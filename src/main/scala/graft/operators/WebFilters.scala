package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The web-pipeline FRONT half the text-curation family assumes has
  * already run: HTML main-content extraction (the first stage of every
  * web corpus — C4, CCNet, RefinedWeb — Raffel et al. 2020 §2.2, Penedo
  * et al. 2023 §3.1) and URL-level filtering / canonical-URL dedup
  * (RefinedWeb stage 1). Everything is regex/string-op based — no DOM
  * parser — so a SQL oracle replays the exact bytes, and every operator
  * is MAP-ONLY over its input row (no shuffle, streaming-safe): at
  * 100 TB the extraction cost is one pass over the crawl with zero data
  * movement, which is the property that lets it run inside the ingest
  * job instead of as its own shuffle stage.
  *
  * Extraction model (jusText/trafilatura-style, simplified but real):
  * drop non-content elements wholesale (head, script, style, comments),
  * segment into blocks at block-level tag boundaries, strip inline tags
  * and decode the common entities per block, then keep a block iff it
  * has at least [[MinBlockChars]] visible characters AND its LINK
  * DENSITY (anchor-text chars / visible chars) is at most 1/2 — the
  * boilerplate heuristic that kills navigation bars, footers, and
  * link-farm blocks while keeping prose that merely contains links.
  */
object WebFilters {

  /** Optimizer fence for the per-link resolver output ([[PlanFence]]'s
    * scaladoc has the measured blowup): wraps a computed column so the
    * resolver tree is planned and code-generated ONCE instead of being
    * inlined into every downstream verdict predicate. Value-identical. */
  private def fenced(c: Column): Column = graft.functions.PlanFence(c)

  /** Minimum visible characters for a block to count as main content. */
  val MinBlockChars = 15

  // non-content elements dropped with their contents. RE2-safe (no
  // backreferences, no lookaround) so the same strings run in DuckDB.
  private val HeadPat = "(?is)<head\\b[^>]*>.*?</head>"
  private val ScriptPat = "(?is)<script\\b[^>]*>.*?</script>"
  private val StylePat = "(?is)<style\\b[^>]*>.*?</style>"
  private val CommentPat = "(?s)<!--.*?-->"

  /** Block-level tag boundary: the segmentation SPLIT pattern. */
  val BlockTagPat: String =
    "(?i)</?(?:p|div|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|" +
      "article|header|footer|nav|aside|blockquote|pre|br|hr)\\b[^>]*>"

  private val AnchorPat = "(?is)<a\\b[^>]*>(.*?)</a>"
  private val AnyTagPat = "<[^>]*>"

  private def wsNorm(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** The five common named entities plus the numeric apostrophe — decoded
    * AFTER tag stripping, '&amp;' LAST so double-escaped text single-
    * decodes ('&amp;lt;' → '&lt;', never '<'). */
  private def decodeEntities(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(c,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&nbsp;", " "), "&amp;", "&")

  private def stripInline(c: Column): Column =
    regexp_replace(c, AnyTagPat, "")

  /** `<title>` text (entity-decoded, whitespace-normalized) — extracted
    * from the RAW html, since the head element is dropped before block
    * segmentation. */
  def htmlTitle(html: Column): Column =
    wsNorm(decodeEntities(stripInline(
      regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1))))

  /** Content blocks of an HTML document as an array of structs
    * (txt: visible text, lc: anchor-text chars) — empty-text blocks are
    * already gone. One column expression, map-only. */
  def htmlBlocks(html: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      html, HeadPat, " "), ScriptPat, " "), StylePat, " "), CommentPat, " ")
    val raw = split(cleaned, BlockTagPat)
    filter(
      transform(raw, b => struct(
        wsNorm(decodeEntities(stripInline(b))).as("txt"),
        coalesce(aggregate(
          regexp_extract_all(b, lit(AnchorPat), lit(1)),
          lit(0), (a, x) => a + length(regexp_replace(x, AnyTagPat, ""))),
          lit(0)).as("lc"))),
      b => length(b.getField("txt")) > 0)
  }

  /** The boilerplate verdict for one block struct: enough visible text
    * AND link density <= 1/2 (integer form 2·linkChars <= chars, so the
    * comparison is exact in every engine). */
  def blockKeep(b: Column, minChars: Int = MinBlockChars): Column =
    length(b.getField("txt")) >= minChars &&
      lit(2) * b.getField("lc") <= length(b.getField("txt"))

  /** Extracted main content as ONE string column (kept blocks joined by
    * newline, in document order) — the composition/streaming form:
    * `docs.select(htmlMainContent(col("html")).as("text"))` feeds the
    * whole downstream text-curation family unchanged. Map-only. */
  def htmlMainContent(html: Column, minChars: Int = MinBlockChars): Column =
    concat_ws("\n",
      transform(filter(htmlBlocks(html), b => blockKeep(b, minChars)),
        b => b.getField("txt")))

  /** Per-document extraction report: title, block counts before/after the
    * boilerplate heuristic, and the kept content's length + md5 digest (a
    * byte-exact check of WHICH blocks survived). Staged projections keep
    * the expensive block-array lambda a single evaluation. */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html",
                  minChars: Int = MinBlockChars): DataFrame =
    docs.select(col("doc_id"), htmlTitle(col(htmlCol)).as("title"),
        htmlBlocks(col(htmlCol)).as("__b"))
      .select(col("doc_id"), col("title"),
        size(col("__b")).cast("long").as("n_blocks"),
        filter(col("__b"), b => blockKeep(b, minChars)).as("__k"))
      .select(col("doc_id"), col("title"), col("n_blocks"),
        size(col("__k")).cast("long").as("kept_blocks"),
        concat_ws("\n", transform(col("__k"), b => b.getField("txt"))).as("__t"))
      .select(col("doc_id"), col("title"), col("n_blocks"), col("kept_blocks"),
        length(col("__t")).cast("long").as("kept_chars"),
        md5(col("__t")).as("content_digest"))

  /** Deterministic HTML test corpus over the `documents` table (the same
    * construction runs as a DuckDB CTE, so the oracle replays extraction
    * on identical bytes): each document's words chunk into 12-word lines;
    * lines wrap as `<p>….</p>` / `<div>… <a>…</a></div>` / `<li>…</li>`
    * by line-length mod 3; around them sit the boilerplate a real page
    * has — head with title/style/script, a nav bar of links, an HTML
    * comment, one constant prose paragraph (entity exercise), one
    * stop-word paragraph (so downstream Gopher gates have signal), and a
    * link-heavy footer the link-density rule must kill. */
  def htmlFixture(docs: DataFrame, limit: Int = 150, lineWords: Int = 12,
                  textCol: String = "text"): DataFrame = {
    // limit <= 0 = whole corpus WITHOUT the orderBy+limit subset (which
    // would plan a global TakeOrdered) — the scale-probe path
    val subset = if (limit > 0) docs.orderBy("doc_id").limit(limit) else docs
    val base = subset
      .select(col("doc_id"), Dedup.tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
    val nl = ceil(size(col("ws")).cast("double") / lineWords).cast("int")
    val lines = transform(sequence(lit(1), nl), i =>
      concat_ws(" ",
        slice(col("ws"), (i - lit(1)) * lineWords + lit(1), lit(lineWords))))
    val elems = transform(lines, l =>
      when(length(l) % 3 === 0, concat(lit("<p>"), l, lit(".</p>")))
        .when(length(l) % 3 === 1, concat(lit("<div class=\"entry\">"), l,
          lit(" <a href=\"/read/more\">more &amp; info</a></div>")))
        .otherwise(concat(lit("<li>"), l, lit("</li>"))))
    base.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; friends</title><style>p { margin: 0; }</style>" +
        "<script>var a = 1 && 2; if (a < 3) { a = 4; }</script></head>"),
      lit("<body><nav><a href=\"/\">Home</a> <a href=\"/cats\">Cats</a> " +
        "<a href=\"/dogs\">Dogs</a></nav><!-- rendered by demo -->"),
      lit("<div id=\"main\"><p>Fish &amp; Chips &lt;deluxe edition&gt; " +
        "from the corner shop</p>" +
        "<p>We work with the best of the best, and that is that.</p>"),
      concat_ws("", elems),
      lit("</div><footer><a href=\"/terms\">Terms of service</a> " +
        "<a href=\"/privacy\">Privacy policy</a> " +
        "<a href=\"/contact\">Contact the team</a> (c) demo</footer>" +
        "</body></html>")).as("html"))
  }

  // ---------------------------------------------------------------- URLs

  /** Extensions a text-corpus crawl never wants (media, code assets,
    * archives, binaries) — RefinedWeb-style. */
  val BlockedExtPat: String =
    "\\.(jpe?g|png|gif|webp|bmp|ico|svg|css|js|mjs|woff2?|ttf|mp[34]|" +
      "avi|mov|mkv|zip|tar|gz|tgz|rar|7z|exe|dmg|iso|pdf)$"

  /** Default domain blocklist (exact host or any subdomain). */
  val DefaultBlockedHosts: Seq[String] =
    Seq("ads.example.com", "tracker.example.net", "doubleclick.net",
      "adservice.example.org")

  private val SchemePat = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val HostPat = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val SchemeHostPat = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"

  private def schemeOf(u: Column): Column =
    lower(regexp_extract(u, SchemePat, 1))

  /** Canonical host: lowercase, default port stripped (`:80` http /
    * `:443` https), leading `www.` stripped. */
  def urlHost(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = schemeOf(noFrag)
    val hostPort = lower(regexp_extract(noFrag, HostPat, 1))
    val noPort = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    regexp_replace(noPort, "^www\\.", "")
  }

  /** Raw path of a URL: fragment, scheme://host, and query stripped —
    * ONE definition shared by the canonical form, the extension filter,
    * and robots matching so "path" can never mean three things. */
  private def rawPath(u: Column): Column =
    regexp_extract(
      regexp_replace(regexp_replace(u, "#.*", ""), SchemeHostPat, ""),
      "^([^?]*)", 1)

  /** Canonical path: [[rawPath]] with trailing slashes stripped, empty →
    * `/`. */
  private def canonPath(u: Column): Column = {
    val stripped = regexp_replace(rawPath(u), "/+$", "")
    when(stripped === "", lit("/")).otherwise(stripped)
  }

  /** Canonical URL (the dedup key contract): lowercase scheme + canonical
    * host; fragment dropped; tracking params (utm_*, gclid, fbclid)
    * dropped; remaining query params SORTED; empty path → `/`, trailing
    * slashes stripped. NULL when the value does not parse as a URL with a
    * scheme+host. Pure string ops — map-only, engine-replayable. */
  def urlCanonical(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = schemeOf(noFrag)
    val rest = regexp_replace(noFrag, SchemeHostPat, "")
    val path = canonPath(url)
    val qs = regexp_extract(rest, "\\?(.*)", 1)
    val params = array_sort(filter(split(qs, "&"), p =>
      p =!= "" && !p.rlike("^(?i)(utm_[a-z0-9]+|gclid|fbclid)=")))
    val query = when(size(params) > 0, concat(lit("?"), concat_ws("&", params)))
      .otherwise(lit(""))
    when(scheme === "" || urlHost(url) === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), urlHost(url), path, query))
  }

  /** URL-level filter: per-URL verdicts (scheme ok, blocked domain,
    * blocked extension) plus the combined keep — the crawl-frontier gate
    * that runs BEFORE any byte of the page is fetched or stored. Keeps
    * the caller's columns; map-only. */
  def urlFilter(pages: DataFrame, urlCol: String = "url",
                blockedHosts: Seq[String] = DefaultBlockedHosts): DataFrame = {
    val u = col(urlCol)
    val scheme = schemeOf(regexp_replace(u, "#.*", ""))
    val host = urlHost(u)
    val schemeOk = scheme === "http" || scheme === "https"
    // foldLeft, not reduce: an EMPTY blocklist (the natural way to disable
    // the domain rule) must mean blocked_domain = false, not a crash
    val blockedDomain = blockedHosts.foldLeft(lit(false): Column)((acc, b) =>
      acc || host === b || host.endsWith("." + b))
    val blockedExt = lower(rawPath(u)).rlike(BlockedExtPat)
    pages
      .withColumn("canonical_url", urlCanonical(u))
      .withColumn("host", host)
      .withColumn("scheme_ok", schemeOk)
      .withColumn("blocked_domain", blockedDomain)
      .withColumn("blocked_ext", blockedExt)
      .withColumn("keep", schemeOk && !blockedDomain && !blockedExt &&
        col("canonical_url").isNotNull)
  }

  /** Anchor hrefs (double-quoted) — group 1 is the raw link target. The
    * `href` attribute name must follow a delimiter (whitespace or a quote
    * closing the previous attribute value), so `data-href`/`xlink:href`
    * can neither match nor shadow the real href; the LAZY [^>]*? keeps
    * the FIRST href of a duplicate-attribute tag (browser behavior). */
  val HrefPat: String = "(?is)<a\\b[^>]*?[\\s\"']href\\s*=\\s*\"([^\"]*)\""

  /** Outlink extraction — the step that closes the crawl LOOP (extract →
    * links → filter → dedup → next frontier): every double-quoted anchor
    * href, resolved to an absolute URL per RFC 3986 §5. Absolute links
    * pass through; protocol-relative links (`//host/path`) take the base
    * page's scheme (§4.2); root-relative (`/path`), path-relative
    * (`a.html`, `../x`, `./y` — the bulk of real-site outlinks),
    * query-only (`?q=1`) and fragment-only/empty refs all resolve against
    * the base via §5.3 merge + §5.2.4 dot-segment removal (see
    * [[resolveHref]]); scheme-without-authority refs (`javascript:`,
    * `mailto:`, `data:`) yield NULL and are dropped. Pages with a
    * `<base href>` element: materialize the effective base into
    * `baseCol` FIRST via [[docBase]] (see its scaladoc for why it is
    * not nested here). One explode per page, map-only otherwise.
    * Output (doc_id, url). */
  def htmlLinks(docs: DataFrame, htmlCol: String = "html",
                baseCol: String = "base_url"): DataFrame = {
    docs.select(col("doc_id"), col(baseCol),
        explode(regexp_extract_all(col(htmlCol), lit(HrefPat), lit(1)))
          .as("__href"))
      .select(col("doc_id"),
        fenced(resolveHref(col("__href"), col(baseCol))).as("url"))
      .where(col("url").isNotNull)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over an absolute path (must
    * start with `/`): fold the segments through a string-accumulator
    * stack — `.` is dropped, `..` pops the last segment (a pop at root
    * is a no-op, the §5.2.4 excess-dot-segment rule), anything else
    * (including the empty segments of `a//b` and a trailing `/`) is
    * pushed verbatim. A path ENDING in a dot segment re-gains its
    * trailing slash afterwards (§5.2.4 outputs `/a/` for `/a/b/..`, but
    * the pop alone leaves `/a`). Engine-replayable: DuckDB's
    * `list_reduce` over `string_split` starts its accumulator at the
    * leading-`/` split's first (empty) element — byte-identical to this
    * `aggregate` over the tail with a `''` init. Map-only. */
  private def removeDotSegments(p: Column): Column = {
    val segs = split(p, "/", -1)
    val folded = aggregate(
      slice(segs, lit(2), greatest(size(segs) - 1, lit(0))),
      lit(""),
      (acc, s) => when(s === ".", acc)
        .when(s === "..", regexp_replace(acc, "/[^/]*$", ""))
        .otherwise(concat(acc, lit("/"), s)))
    val joined = when(folded === "", lit("/")).otherwise(folded)
    when(p.rlike("(^|/)\\.\\.?$") && !joined.endsWith("/"),
      concat(joined, lit("/"))).otherwise(joined)
  }

  /** Href → absolute URL (the [[htmlLinks]] contract, shared with
    * [[htmlAnchors]]), RFC 3986 §5: refs with scheme+authority pass
    * as-is; protocol-relative takes the base scheme; a scheme WITHOUT
    * authority (`javascript:`, `mailto:`, `data:` — §4.2 says a relative
    * ref's first segment can never contain `:`, so a leading
    * `scheme:` is never a relative path) → NULL; root-relative keeps its
    * own path (dot-segments removed); empty/fragment-only refs resolve
    * to the base document (base path + base query, §5.3's R.path = ""
    * row); query-only refs keep the base path with the ref's query;
    * path-relative refs merge against the base directory (§5.3 merge:
    * base path up to its last `/`) then remove dot segments. Resolved
    * refs drop the ref fragment (the crawl key contract — absolute
    * pass-through keeps its bytes untouched as before). All pure string
    * column ops; map-only. */
  private def resolveHref(href: Column, base: Column): Column = {
    val bScheme = schemeOf(base)
    val bHost = urlHost(base)
    val bNoFrag = regexp_replace(base, "#.*", "")
    val bPathRaw = rawPath(base)
    val bPath = when(bPathRaw === "", lit("/")).otherwise(bPathRaw)
    val bQuery = regexp_extract(bNoFrag, "(\\?.*)", 1)
    val hNoFrag = regexp_replace(href, "#.*", "")
    val hPath = regexp_extract(hNoFrag, "^([^?]*)", 1)
    val hQuery = regexp_extract(hNoFrag, "(\\?.*)", 1)
    def abs(path: Column, query: Column) =
      concat(bScheme, lit("://"), bHost, path, query)
    when(href.rlike(SchemePat), href)
      .when(href.startsWith("//"), concat(bScheme, lit(":"), href))
      .when(hNoFrag.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"),
        lit(null).cast("string"))
      .when(href.startsWith("/"), abs(removeDotSegments(hPath), hQuery))
      .when(hPath === "" && hQuery === "",
        abs(removeDotSegments(bPath), bQuery))
      .when(hPath === "", abs(removeDotSegments(bPath), hQuery))
      .otherwise(abs(removeDotSegments(
        concat(regexp_replace(bPath, "[^/]*$", ""), hPath)), hQuery))
  }

  /** Parse WARC-style archive text (the Common Crawl container format —
    * ISO 28500 simplified to its text skeleton, which is what a SQL
    * oracle can replay byte-for-byte): records begin at a `WARC/1.0`
    * version line; headers run to the first blank line; the payload is
    * the rest of the record, trailing whitespace trimmed (the record
    * separator's own blank lines are framing, not payload). Emits one
    * row per record: (file key, rec_idx ordinal, WARC-Type,
    * WARC-Target-URI, WARC-Date, declared Content-Length, actual payload
    * length + md5). Missing headers are '' / NULL, never errors — an
    * archive sweep reports malformed records, it doesn't die on them.
    *
    * Shape at 100 TB: one explode per file into record rows, map-only
    * regex after that; files are the parallelism unit exactly as in a
    * real crawl bucket layout. */
  def warcParse(files: DataFrame, fileCol: String = "file_id",
                bodyCol: String = "body"): DataFrame = {
    val recs = warcRecordFrames(files, fileCol, bodyCol)
    def header(name: String) =
      regexp_extract(col("__hdrs"), s"(?im)^$name:\\s*(\\S+)", 1)
    // digits-only capture: a malformed "Content-Length: N/A" degrades to
    // NULL per the never-errors contract instead of an ANSI cast error,
    // and matches the oracle's ([0-9]+) byte for byte
    val lenRaw =
      regexp_extract(col("__hdrs"), "(?im)^Content-Length:\\s*([0-9]+)", 1)
    recs.select(col(fileCol), col("rec_idx"),
      header("WARC-Type").as("warc_type"),
      header("WARC-Target-URI").as("target_uri"),
      header("WARC-Date").as("warc_date"),
      when(lenRaw === "", lit(null).cast("long"))
        .otherwise(lenRaw.cast("long")).as("content_length"),
      length(col("__payload")).cast("long").as("payload_len"),
      md5(col("__payload")).as("payload_digest"))
  }

  /** The shared WARC record framing behind [[warcParse]] and
    * [[warcHttp]] (one definition so the archive inventory and the HTTP
    * gate can never disagree about where a record's payload starts):
    * records split at `WARC/1.0` version lines, WARC headers run to the
    * first blank line, the payload is the rest with trailing whitespace
    * trimmed (the record separator's blank lines are framing, not
    * payload). Emits (fileCol, rec_idx, __hdrs, __payload). */
  private def warcRecordFrames(files: DataFrame, fileCol: String,
                               bodyCol: String): DataFrame = {
    val recs = files.select(col(fileCol),
        posexplode(split(col(bodyCol), "(?m)^WARC/1\\.0\\r?\\n"))
          .as(Seq("rec_idx", "rec")))
      // slot 0 is whatever precedes the first version line — empty in a
      // well-formed archive, junk otherwise; either way it is not a
      // record. Empty later slots (doubled markers) are not records either.
      .where(col("rec_idx") > 0 && col("rec") =!= "")
    // a record with NO blank-line separator is all headers and no
    // payload — without this branch the header bytes would be digested
    // as payload while every header simultaneously reported missing
    val hasSep = col("rec").rlike("\\r?\\n\\r?\\n")
    recs.select(col(fileCol), col("rec_idx").cast("long").as("rec_idx"),
      when(hasSep,
        regexp_extract(col("rec"), "(?s)^(.*?)\\r?\\n\\r?\\n", 1))
        .otherwise(col("rec")).as("__hdrs"),
      when(hasSep, regexp_replace(
        regexp_replace(col("rec"), "(?s)^.*?\\r?\\n\\r?\\n", ""), "\\s+$", ""))
        .otherwise(lit("")).as("__payload"))
  }

  /** HTTP-envelope gate over WARC response payloads — the FIRST filter a
    * real crawl pipeline applies before extraction (a Common Crawl WARC
    * response payload IS the raw HTTP response; only `200` + an accepted
    * media type proceeds — C4/CCNet/RefinedWeb all start here). Per
    * record: the HTTP status (NULL when the payload has no valid
    * `HTTP/x.y NNN` status line — a malformed capture degrades to a
    * reject verdict, never a job error), the media type (from
    * `Content-Type`, lowercased, parameters stripped, '' when absent),
    * the declared charset (the Content-Type `charset=` parameter,
    * optional quotes, lowercased, '' when absent), the HTTP body's
    * length + md5 (split from the HTTP headers at the first blank line
    * exactly as the WARC framing splits records, trailing whitespace
    * trimmed), and the keep verdict: status 200 AND media type in
    * `keepMimes`. Map-only after the per-file record explode — the same
    * zero-shuffle shape as [[warcParse]], so at 100 TB the gate runs
    * inside the archive scan. `keepBody = true` appends the HTTP body
    * itself as `http_body` — the composition form (gate → extraction in
    * one pass); the default omits it so the inventory schema stays
    * digest-sized. */
  def warcHttp(files: DataFrame, fileCol: String = "file_id",
               bodyCol: String = "body",
               keepMimes: Seq[String] = Seq("text/html"),
               keepBody: Boolean = false): DataFrame = {
    val recs = warcRecordFrames(files, fileCol, bodyCol)
    val p = col("__payload")
    val statusRaw = regexp_extract(p, "^HTTP/[0-9.]+[ \\t]+([0-9]{3})", 1)
    val status = when(statusRaw === "", lit(null).cast("int"))
      .otherwise(statusRaw.cast("int"))
    val hasSep = p.rlike("\\r?\\n\\r?\\n")
    val hHdrs = when(hasSep, regexp_extract(p, "(?s)^(.*?)\\r?\\n\\r?\\n", 1))
      .otherwise(p)
    val hBody = when(hasSep, regexp_replace(
      regexp_replace(p, "(?s)^.*?\\r?\\n\\r?\\n", ""), "\\s+$", ""))
      .otherwise(lit(""))
    val ct = regexp_extract(hHdrs, "(?im)^Content-Type:[ \\t]*([^\\r\\n]*)", 1)
    val mime = lower(trim(regexp_extract(ct, "^([^;]*)", 1)))
    val charset = lower(
      regexp_extract(ct, "(?i)charset[ \\t]*=[ \\t]*\"?([A-Za-z0-9_.:-]+)", 1))
    // foldLeft, not reduce: an EMPTY keepMimes must mean keep-nothing
    // (mime leg false), not a crash — the urlFilter blocklist convention
    val mimeOk = keepMimes.foldLeft(lit(false): Column)((acc, m) =>
      acc || mime === m.toLowerCase)
    val base = recs.select(col(fileCol), col("rec_idx"),
      regexp_extract(col("__hdrs"), "(?im)^WARC-Target-URI:\\s*(\\S+)", 1)
        .as("target_uri"),
      status.as("http_status"), mime.as("mime"), charset.as("charset"),
      length(hBody).cast("long").as("body_len"),
      md5(hBody).as("body_digest"),
      // when(), not status === 200 && …: a NULL status must verdict
      // false, and NULL && false is NULL in three-valued logic
      when(status.isNull, lit(false))
        .otherwise(status === 200 && mimeOk).as("keep"),
      hBody.as("http_body"))
    if (keepBody) base else base.drop("http_body")
  }

  /** Parse robots.txt bodies into per-host Allow/Disallow rules for the
    * wildcard agent, RFC 9309 group semantics: a group is started by a
    * `User-agent:` line whose nearest preceding NON-EMPTY line is not
    * itself a `User-agent:` line — so consecutive `User-agent:` lines
    * share one rule block (`User-agent: a` / `User-agent: *` /
    * `Disallow: /x` applies `/x` to both agents), and every `*` group's
    * rules combine. Comments (`# …`) strip per line; empty `Allow:` /
    * `Disallow:` values match nothing and emit no rule (an empty
    * Disallow is the classic allow-all). Blank lines are not group
    * separators (RFC 9309 §2.1 — groups end at the next group's
    * user-agent line). Returns (host, prefix, allow).
    *
    * Shape: one explode to line rows, a per-host lag + running count
    * window to attach each rule line to its group (robots files are
    * tiny — the window partitions by host), one equi-join. */
  def robotsRules(robots: DataFrame, hostCol: String = "host",
                  bodyCol: String = "body"): DataFrame = {
    val (grouped, starGroups) = robotsLineGroups(robots, hostCol, bodyCol)
    val rules = grouped
      .withColumn("allow", col("low").startsWith("allow:"))
      .where(col("allow") || col("low").startsWith("disallow:"))
      .withColumn("prefix",
        when(col("allow"), lineValue(7)).otherwise(lineValue(10)))
      .where(col("prefix") =!= "")
    rules.join(starGroups, Seq("host", "grp"))
      .select("host", "prefix", "allow")
  }

  /** The directive VALUE of a trimmed robots line: everything from
    * 1-based position `from` (just past the key's colon), whitespace
    * re-trimmed. */
  private def lineValue(from: Int): Column = regexp_replace(
    expr(s"substring(line, $from)"), "^\\s+|\\s+$", "")

  /** The ONE RFC 9309 line/group machine, shared by [[robotsRules]] and
    * [[robotsCrawlDelay]] (and the line explode by [[robotsSitemaps]])
    * so grouping semantics can never drift between directive parsers:
    * bodies split on \r?\n with comments stripped and ALL whitespace
    * trimmed (a CRLF or tab-indented robots.txt must parse identically
    * to a LF one — trim() alone strips only spaces, leaving "*\r"
    * agents that match nothing), empty lines dropped up front (they
    * carry no grouping information under RFC 9309, and dropping them
    * makes lag() read "nearest preceding non-empty line" directly), a
    * group started by each user-agent line whose preceding non-empty
    * line is not itself one (consecutive user-agent lines share a
    * block). Returns (grouped lines with host/pos/line/low/grp, the
    * distinct (host, grp) set whose user-agent list contains `*`). */
  private def robotsLineGroups(robots: DataFrame, hostCol: String,
                               bodyCol: String): (DataFrame, DataFrame) = {
    val lines = robots.select(col(hostCol).as("host"),
        posexplode(transform(split(col(bodyCol), "\\r?\\n"), l =>
          regexp_replace(regexp_replace(l, "#.*", ""), "^\\s+|\\s+$", "")))
          .as(Seq("pos", "line")))
      .withColumn("low", lower(col("line")))
      .where(col("line") =!= "")
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("pos")
    val cum = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val isUa = col("low").startsWith("user-agent:")
    val grouped = lines
      .withColumn("starts_grp", isUa &&
        !coalesce(lag(isUa, 1).over(ord), lit(false)))
      .withColumn("grp",
        sum(when(col("starts_grp"), 1L).otherwise(0L)).over(cum))
    val starGroups = grouped.where(isUa)
      .where(lineValue(12) === "*")
      .select("host", "grp").distinct()
    (grouped, starGroups)
  }

  /** Apply robots rules to a URL frame, RFC 9309 matching + precedence:
    * each URL gains its canonical (host, path) plus `robots_blocked` =
    * the MOST-SPECIFIC rule matching its canonical path is a Disallow.
    * Specificity is raw pattern length (§2.2.2); among equal-length
    * matches Allow wins (the least-restrictive tiebreak), so
    * `Disallow: /` + `Allow: /public/` blocks everything except the
    * public tree. Patterns support RFC 9309 wildcards: `*` matches any
    * character run and a trailing `$` anchors the match at path end
    * (the classic media rule — slash, `*`, `.pdf`, `$` — blocks every
    * pdf path; the literal can't be spelled here because Scala block
    * comments nest on its first two bytes); such patterns compile to
    * anchored regexes (every other byte regex-escaped, identically in
    * both engines). END-ANCHORED patterns match the raw canonical path
    * (appending anything would defeat the anchor); every other rule —
    * plain prefixes AND non-anchored wildcards — matches against
    * path + '/', so BOTH spellings of a directory rule
    * (`Disallow: /private/` and the wildcard slash-star-private form)
    * block the directory URL itself even though canonicalization strips
    * its trailing slash, and plain rule bytes can't act as accidental
    * wildcards. Hosts with no matching rule are unblocked — robots
    * absence means allow.
    *
    * Shape: rules collapse to one (host, rules[]) row per host with the
    * regex compiled ONCE per rule on the rules side; the join strategy
    * is left to Catalyst size stats + AQE, NOT force-hinted — each rule
    * set is tiny but the frame is DISTINCT-HOSTS-proportional, and a
    * real crawl has 10⁷–10⁸ robots-bearing hosts (tens of GB — a forced
    * broadcast is a driver OOM at that scale). A small rules frame still
    * broadcasts (stats-driven, PlanSpec-pinned); a huge one shuffles
    * hash-join on the uniform `host` key. The verdict itself is a
    * map-only fold over the array (most-specific match carried in the
    * accumulator), so the operator is ROW-PRESERVING (duplicate input
    * rows stay duplicate). */
  def robotsFilter(urls: DataFrame, rules: DataFrame,
                   urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val keyed = urls.withColumn("host", urlHost(u))
      .withColumn("path", canonPath(u))
    val special = col("prefix").contains("*") || col("prefix").endsWith("$")
    val body = when(col("prefix").endsWith("$"),
        expr("substring(prefix, 1, length(prefix) - 1)"))
      .otherwise(col("prefix"))
    // regex-escape every metachar EXCEPT '*' (which becomes .*); the
    // resulting pattern contains only escaped literals, '.*', '^', '$' —
    // portable between Java regex and DuckDB's RE2
    val esc = regexp_replace(body, "([.^$+?(){}\\[\\]|\\\\])", "\\\\$1")
    val rx = concat(lit("^"), regexp_replace(esc, "\\*", ".*"),
      when(col("prefix").endsWith("$"), lit("$")).otherwise(lit("")))
    val ruleSets = rules
      .withColumn("special", special)
      .withColumn("anch", col("prefix").endsWith("$"))
      .withColumn("rx", when(special, rx).otherwise(lit("")))
      .groupBy("host")
      .agg(collect_list(struct(col("prefix"), col("allow"),
        col("special"), col("anch"), col("rx"))).as("__rules"))
    // END-ANCHORED patterns match the raw canonical path (appending '/'
    // would defeat the anchor); every OTHER rule — plain prefixes AND
    // non-anchored wildcards — matches against path + '/', so both
    // spellings of a directory rule (`/a/private/` and `/*/private/`)
    // block the directory URL itself even though canonicalization
    // strips its trailing slash (a '/'-append can never un-match a
    // non-anchored pattern that already matched)
    val matched = filter(col("__rules"), r =>
      when(r("special") && r("anch"), regexp_like(col("path"), r("rx")))
        .when(r("special"),
          regexp_like(concat(col("path"), lit("/")), r("rx")))
        .otherwise(concat(col("path"), lit("/")).startsWith(r("prefix"))))
    // most-specific match, allow wins ties: the accumulator carries the
    // best (pattern length, allow) seen; the no-match sentinel
    // (-1, allow) means unblocked, and coalesce covers hosts with no
    // rules at all
    val best = aggregate(matched,
      struct(lit(-1).as("len"), lit(true).as("allow")),
      (acc, r) => {
        val rlen = length(r("prefix"))
        when(rlen > acc("len") || (rlen === acc("len") && r("allow")),
          struct(rlen.as("len"), r("allow").as("allow")))
          .otherwise(acc)
      })
    keyed.join(ruleSets, Seq("host"), "left")
      .withColumn("robots_blocked", coalesce(!best("allow"), lit(false)))
      .drop("__rules")
  }

  /** `Sitemap:` discovery lines from robots.txt bodies — where real
    * sitemap discovery STARTS (robots → [[sitemapIndex]] → children →
    * [[sitemapParse]] → pages). RFC 9309 §2.3: Sitemap is a non-group
    * directive — it binds to the whole file regardless of surrounding
    * user-agent groups, so the group ids the shared line machine stamps
    * are simply ignored here: take `sitemap:` lines (case-insensitive
    * key, comments/whitespace stripped by the shared rule), emit
    * DISTINCT (host, sitemap_url); empty values emit nothing. One
    * explode + a uniform-key distinct. */
  def robotsSitemaps(robots: DataFrame, hostCol: String = "host",
                     bodyCol: String = "body"): DataFrame =
    robotsLineGroups(robots, hostCol, bodyCol)._1
      .where(col("low").startsWith("sitemap:"))
      .select(col("host"), lineValue(9).as("sitemap_url"))
      .where(col("sitemap_url") =!= "")
      .distinct()

  /** `Crawl-delay:` per host for the wildcard agent — the de-facto
    * politeness directive (not in RFC 9309 but honored by most
    * crawlers): same group semantics as [[robotsRules]] (consecutive
    * user-agent lines share the block, every `*` group contributes).
    * Values parse by the strict digits(.digits)? grammar — malformed
    * values emit no row rather than erroring ([[sitemapParse]]'s
    * priority contract). Multiple applicable delays keep the MAX — the
    * conservative read when groups disagree. Output
    * (host, crawl_delay). */
  def robotsCrawlDelay(robots: DataFrame, hostCol: String = "host",
                       bodyCol: String = "body"): DataFrame = {
    val (grouped, starGroups) = robotsLineGroups(robots, hostCol, bodyCol)
    val raw = grouped.where(col("low").startsWith("crawl-delay:"))
      .select(col("host"), col("grp"), lineValue(13).as("v"))
      .where(col("v").rlike("^[0-9]+(\\.[0-9]+)?$"))
    raw.join(starGroups, Seq("host", "grp"))
      .groupBy("host")
      .agg(max(col("v").cast("double")).as("crawl_delay"))
  }

  /** Canonical-URL dedup: keep-first (min id) per canonical URL — the
    * uniform-hash-key contract ([[Dedup.exactGroups]]'s shape, the key
    * being [[urlCanonical]] instead of md5(text)). Unparseable URLs
    * (NULL canonical) are dropped — they fail [[urlFilter]] anyway.
    * Returns one row per distinct canonical URL with its keeper and
    * group size; min(struct) partial-aggregates map-side, so a hot URL
    * collapses before the shuffle. */
  def urlDedup(pages: DataFrame, idCol: String = "doc_id",
               urlCol: String = "url"): DataFrame =
    pages.select(col(idCol), urlCanonical(col(urlCol)).as("canonical_url"))
      .where(col("canonical_url").isNotNull)
      .groupBy("canonical_url")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))

  // ----------------------------------------------------------- web graph

  /** A complete anchor ELEMENT with an href (the [[HrefPat]] attribute
    * contract inside it): group 0 is the whole `<a …>…</a>` span — lazy
    * body, so the element ends at its own first `</a>`. A trailing
    * slash counts as the SELF-CLOSING marker (never starts a match — a
    * self-closing anchor must not swallow the next anchor's element)
    * unless an `=` introduced an UNQUOTED attribute value whose bytes
    * run to that slash (`data-u=http://x.org/>` — per HTML5, `/` is
    * value content only inside an unquoted value, so `download/>` after
    * a BARE attribute is still self-closing). RE2-safe alternation, no
    * lookaround. Self-closing and unclosed anchors therefore appear in
    * [[htmlLinks]] (href-level) but not here (element-level needs a
    * body) — the documented contract difference between the two
    * extractors. */
  val AnchorElemPat: String =
    "(?is)<a\\b[^>]*?[\\s\"']href\\s*=\\s*\"[^\"]*\"" +
      "(?:[^>]*[^/>]|[^>]*=[^\\s\"'>]*/)?>.*?</a>"

  /** Effective resolution base of a page, honoring the HTML `<base
    * href>` element: the FIRST base element's href (entity-decoded,
    * fragment dropped, the HrefPat delimiter convention so `data-href`
    * can't match), resolved against the document URL — absolute,
    * protocol-relative, root-relative, and path-relative (§5.3 merge
    * against the document directory) declarations all work; a page with
    * no base element, an empty href, or a scheme-without-authority one
    * (`mailto:` garbage) falls back to the document URL.
    *
    * Apply it to the PAGE frame before link extraction —
    * `docs.withColumn("base_url", docBase($"html", $"base_url"))` — the
    * way a real pipeline materializes the effective base ONCE in the
    * fetch/extract stage. It is deliberately NOT wired inside
    * [[htmlLinks]]/[[followLinks]]/[[htmlAnchors]]: Catalyst's filter
    * pushdown substitutes a projected alias into every pushed
    * predicate, so a base expression nested under the per-link resolver
    * multiplies through composed frontier queries (~12 resolver
    * references × ~20 verdict references = hundreds of copies; measured
    * 4.5 MiB task binaries and ~50 s of pure planning per query where
    * the un-based plans run sub-second).
    *
    * Deliberately lighter than the full [[resolveHref]]: the base keeps
    * its path UN-normalized, which cannot change any final URL — a link
    * resolved against it re-enters resolveHref, whose own
    * remove_dot_segments normalizes the merged path (root-relative
    * links use only the base's host; absolute links ignore the base).
    * Only divergence: a base href's own query string never feeds
    * empty-ref resolution (a `<base href="?q=1">` page — not a real
    * shape). One regexp per page, map-only. */
  def docBase(html: Column, docUrl: Column): Column = {
    val declared = regexp_replace(decodeEntities(regexp_extract(html,
      "(?is)<base\\b[^>]*?[\\s\"']href\\s*=\\s*\"([^\"]*)\"", 1)), "#.*", "")
    val bScheme = schemeOf(docUrl)
    val bHost = urlHost(docUrl)
    val bPathRaw = rawPath(docUrl)
    val bPath = when(bPathRaw === "", lit("/")).otherwise(bPathRaw)
    when(declared === "", docUrl)
      .when(declared.rlike(SchemePat), declared)
      .when(declared.startsWith("//"), concat(bScheme, lit(":"), declared))
      .when(declared.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), docUrl)
      .when(declared.startsWith("/"),
        concat(bScheme, lit("://"), bHost, declared))
      .otherwise(concat(bScheme, lit("://"), bHost,
        regexp_replace(bPath, "[^/]*$", ""), declared))
  }

  /** Declared character encoding of an HTML document, '' when none —
    * two HTML5 declaration forms, each parsed as a real attribute (a
    * `charset=` substring inside an unrelated attribute VALUE — a
    * description mentioning `charset=x` — can never match):
    * (1) the `<meta charset="utf-8">` attribute form, recognized only
    * when charset is the tag's first attribute (`[^>=]*?` — an `=`
    * before it means it sits inside some other attribute's value; the
    * HTML5 charset meta carries no preceding attributes in practice);
    * (2) the `<meta http-equiv="Content-Type" content="…charset=x…">`
    * parameter form (either attribute order, delimiter-anchored names).
    * The attribute form wins over the parameter form regardless of
    * document position (documented divergence from strict first-wins
    * prescan order — cross-form position comparison is not expressible
    * as one regex in both engines); within a form, first wins.
    * Lowercased; optional quotes. The HTTP-layer charset ([[warcHttp]])
    * takes precedence when both exist — compose with
    * `coalesce(nullif(http,''), nullif(html,''), 'utf-8')`. Map-only. */
  def htmlCharset(html: Column): Column = {
    val attrForm = regexp_extract(html,
      "(?is)<meta\\b[^>=]*?[\\s\"']charset\\s*=\\s*[\"']?([A-Za-z0-9_.:-]+)", 1)
    val equivFirst = regexp_extract(html,
      "(?is)<meta\\b[^>]*?[\\s\"']http-equiv\\s*=\\s*\"content-type\"" +
        "[^>]*?[\\s\"']content\\s*=\\s*\"([^\"]*)\"", 1)
    val contentFirst = regexp_extract(html,
      "(?is)<meta\\b[^>]*?[\\s\"']content\\s*=\\s*\"([^\"]*)\"" +
        "[^>]*?[\\s\"']http-equiv\\s*=\\s*\"content-type\"", 1)
    val equivContent = when(equivFirst =!= "", equivFirst)
      .otherwise(contentFirst)
    val fromEquiv = regexp_extract(equivContent,
      "(?i)charset[ \\t]*=[ \\t]*\"?([A-Za-z0-9_.:-]+)", 1)
    lower(when(attrForm =!= "", attrForm).otherwise(fromEquiv))
  }

  /** Well-formed UTF-8 as a regex over the LOWERCASE HEX of the bytes —
    * the RFC 3629 byte patterns, one alternative per encoded-scalar
    * shape (ASCII; 2-byte C2-DF; the four 3-byte rows including the
    * E0-overlong and ED-surrogate exclusions; the three 4-byte rows
    * including the F0-overlong and F4 > U+10FFFF exclusions).
    * Alternatives are disjoint on the lead byte and each consumes a
    * whole scalar, so matching is linear IN RE2 — this pattern is the
    * DUCKDB ORACLE's replay of the validity verdict and must never run
    * through Spark's `rlike`: Java's backtracking engine matches the
    * unbounded `(alt)*` star with one recursion frame per iteration and
    * throws StackOverflowError at ~1 KB of input (found by review; the
    * fixture bodies that had been covering the gate are tens of bytes).
    * The executor path uses the native linear
    * `is_valid_utf8` instead, pinned ≡ this regex ≡ the JDK decoder by
    * the WebFiltersSpec property tests. */
  val Utf8HexPat: String =
    "^(([0-7][0-9a-f])|((c[2-9a-f]|d[0-9a-f])[89ab][0-9a-f])" +
      "|(e0[ab][0-9a-f][89ab][0-9a-f])" +
      "|(e[1-9a-c][89ab][0-9a-f][89ab][0-9a-f])" +
      "|(ed[89][0-9a-f][89ab][0-9a-f])" +
      "|(e[ef][89ab][0-9a-f][89ab][0-9a-f])" +
      "|(f0[9ab][0-9a-f]([89ab][0-9a-f]){2})" +
      "|(f[1-3]([89ab][0-9a-f]){3})" +
      "|(f48[0-9a-f]([89ab][0-9a-f]){2}))*$"

  /** The WHATWG windows-1252 index: the 27 bytes in 0x80–0x9F that map
    * to characters outside latin-1 (byte → codepoint). The five
    * undefined bytes (81 8D 8F 90 9D) pass through as the C1 controls —
    * the WHATWG decoder's behavior, and Java's. Everything outside this
    * range is identical to ISO-8859-1, which is why the cp1252 decode
    * below is one latin-1 decode + one [[org.apache.spark.sql.functions.translate]]. */
  val Cp1252Map: Seq[(Int, Int)] = Seq(
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)

  private val cp1252From: String = Cp1252Map.map(_._1.toChar).mkString
  private val cp1252To: String = Cp1252Map.map(_._2.toChar).mkString

  /** Charset TRANSCODE gate — the stage that APPLIES what [[warcHttp]]
    * and [[htmlCharset]] extract: decode raw page bytes to text by the
    * pinned precedence (HTTP `charset=` > in-document meta charset >
    * UTF-8 default), with a `decode_ok` verdict. Appends to each row:
    *
    *  - `charset_used` — the decoder actually applied (`utf-8`,
    *    `iso-8859-1`, `windows-1252`);
    *  - `decode_ok` — the declared (or defaulted) charset was
    *    recognized AND its decode is clean;
    *  - `text` — the decoded document.
    *
    * Decoders: latin-1 is the byte-to-codepoint identity (never fails);
    * windows-1252 is latin-1 + the WHATWG C1 remap ([[Cp1252Map]], one
    * `translate`); UTF-8 decodes only when the bytes are well-formed
    * per the native `is_valid_utf8` (the oracle replays the same
    * verdict via [[Utf8HexPat]]) — malformed-but-labeled-utf-8 pages (and pages
    * labeled with a charset this gate doesn't know — shift_jis, koi8-r)
    * fall back to the byte-preserving latin-1 decode with
    * `decode_ok = false`, so nothing is silently dropped and nothing
    * mojibakes unflagged: downstream filters on the verdict. The meta
    * charset is read from the latin-1 PRESCAN of the bytes (charset
    * declarations are ASCII; this is HTML5's prescan trick, which is
    * also what makes the chicken-and-egg of reading a declaration out
    * of undecoded bytes sound). Charset labels normalize through the
    * common IANA aliases (latin1/l1/cp819; cp1252; utf8/us-ascii).
    *
    * Map-only — one decode + a few regexes per row, no exchange; at
    * 100 TB the gate runs inside the scan like [[warcHttp]]. The hex
    * validity check doubles the row transiently; pages are page-sized.
    * The prescan decode materializes ONCE per row (`withColumn`) — the
    * [[docBase]] pushdown-blowup contract. */
  def transcode(pages: DataFrame, bytesCol: String = "body_bytes",
                httpCharsetCol: String = "charset"): DataFrame = {
    val b = col(bytesCol)
    val staged = pages
      .withColumn("__pre", decode(b, "ISO-8859-1"))
      // native linear validator, NOT rlike(Utf8HexPat): Java's
      // backtracking regex engine matches the unbounded (alt)* star
      // with one recursion frame per iteration and StackOverflows at
      // ~1 KB of body — the hex regex is the ORACLE's replay (RE2 is
      // linear), never the executor path
      .withColumn("__utf8_ok", is_valid_utf8(b.cast("string")))
      .withColumn("__label", lower(coalesce(
        when(col(httpCharsetCol) === "", lit(null))
          .otherwise(col(httpCharsetCol)),
        when(htmlCharset(col("__pre")) === "", lit(null))
          .otherwise(htmlCharset(col("__pre"))),
        lit("utf-8"))))
    val canon =
      when(col("__label").isin("iso-8859-1", "iso8859-1", "iso_8859-1",
        "latin1", "latin-1", "l1", "cp819"), lit("iso-8859-1"))
        .when(col("__label").isin("windows-1252", "cp1252", "x-cp1252"),
          lit("windows-1252"))
        .when(col("__label").isin("utf-8", "utf8", "us-ascii", "ascii"),
          lit("utf-8"))
        .otherwise(lit("unknown"))
    val withCanon = staged.withColumn("__canon", canon)
    val c = col("__canon")
    withCanon
      .withColumn("charset_used",
        when(c === "iso-8859-1" || c === "windows-1252", c)
          .otherwise(when(col("__utf8_ok"), lit("utf-8"))
            .otherwise(lit("iso-8859-1"))))
      .withColumn("decode_ok",
        c === "iso-8859-1" || c === "windows-1252" ||
          (c === "utf-8" && col("__utf8_ok")))
      .withColumn("text",
        when(c === "iso-8859-1", col("__pre"))
          .when(c === "windows-1252",
            translate(col("__pre"), cp1252From, cp1252To))
          .otherwise(when(col("__utf8_ok"), decode(b, "UTF-8"))
            .otherwise(col("__pre"))))
      .drop("__pre", "__utf8_ok", "__label", "__canon")
  }

  /** Mojibake signature set — the character PAIRS UTF-8 text shows after
    * a wrong latin-1/cp1252 decode somewhere upstream: a lead byte
    * (Ã/Â/â…) rendered as its own letter followed by a rendered
    * continuation byte. Curated literal alternation (RE2-safe, no
    * classes over C1 controls) covering the punctuation family
    * (â€™ â€œ â€“ â€” â€¦ â€˜ = ' " – — … ') and the accented-latin
    * family (Ã© Ã¨ … = é è …) plus the Â-before-symbol artifact —
    * the set ftfy's sequence tables weight highest. Shared with the
    * DuckDB oracle verbatim. */
  val MojibakePattern: String =
    "â€™|â€œ|â€“|â€”|â€¦|â€˜|Ã©|Ã¨|Ã¡|Ã³|Ãº|Ã¼|Ã¶|Ã¤|Ã«|Ã¯|Ã¢|Ã´|Ã®|Ã±|Ã§|Â«|Â»|Â°|Â·"

  /** Mojibake DETECTOR — the verdict stage after [[transcode]]: a page
    * that arrives already decoded (by an upstream system that guessed
    * the charset wrong) can't be fixed by the byte-level gate, but its
    * text carries the [[MojibakePattern]] artifacts. Appends
    * `n_artifacts` (match count), `artifact_rate` (per 100 chars,
    * 4 dp), and the `mojibake` verdict (`n_artifacts >= minHits` — one
    * hit can be a legitimate 'câ€¦' quotation of mojibake itself; two
    * independent hits essentially never are). Map-only, one regex pass. */
  def mojibakeScore(pages: DataFrame, textCol: String = "text",
                    minHits: Int = 2): DataFrame = {
    val t = col(textCol)
    pages
      .withColumn("n_artifacts",
        size(regexp_extract_all(t, lit(MojibakePattern), lit(0))).cast("long"))
      .withColumn("artifact_rate",
        round(col("n_artifacts") * 100.0 /
          greatest(length(t).cast("double"), lit(1.0)), 4))
      .withColumn("mojibake", col("n_artifacts") >= minHits)
  }

  /** Mojibake REPAIR — ftfy's fix_encoding one-pass inverse: re-encode
    * the text through the windows-1252 it was wrongly decoded with
    * (the [[Cp1252Map]] INVERSE translate turns € ™ ' " – — back into
    * their C1 bytes, after which latin-1 encode is the byte identity),
    * then decode those bytes as the UTF-8 they always were. Repairs
    * only rows the [[mojibakeScore]] verdict flagged AND whose
    * reconstructed bytes are well-formed UTF-8 (native
    * `is_valid_utf8` — see [[Utf8HexPat]] for why never the regex) — a
    * false-positive page whose roundtrip is not valid UTF-8 passes
    * through untouched, so the operator can never corrupt clean text.
    * Appends `repaired` (bool) and `text_repaired`. Map-only. */
  def mojibakeRepair(pages: DataFrame, textCol: String = "text",
                     minHits: Int = 2): DataFrame = {
    val scored = mojibakeScore(pages, textCol, minHits)
    val inv = translate(col(textCol), cp1252To, cp1252From)
    // the inverse must be losslessly latin-1-encodable — real CJK mixed
    // into a flagged page must NOT be repaired, and Spark's strict
    // `encode` RAISES on unmappable input, so the codepoint test gates
    // the encode itself (the `when` branch never evaluates for
    // non-latin-1 rows); the reconstructed bytes must then be
    // well-formed UTF-8
    val lossless = !inv.rlike("[^\\x00-\\xff]")
    val bytesBack =
      encode(when(lossless, inv).otherwise(lit("")), "ISO-8859-1")
    scored
      .withColumn("repaired",
        col("mojibake") && lossless && is_valid_utf8(bytesBack.cast("string")))
      .withColumn("text_repaired",
        when(col("repaired"), decode(bytesBack, "UTF-8"))
          .otherwise(col(textCol)))
  }

  /** Anchor OPEN TAGS with a double-quoted href — the rel-aware sibling
    * of [[HrefPat]]: matching stops at the tag's own `>`, so the rel
    * attribute (either side of href) is inside the match and per-anchor
    * link policy can be read without requiring an element body (self-
    * closing and unclosed-element anchors keep their href-level
    * contract; only a truncated document whose final open tag never
    * reaches `>` loses that one link — documented divergence from
    * [[HrefPat]]). */
  val AnchorTagPat: String =
    "(?is)<a\\b[^>]*?[\\s\"']href\\s*=\\s*\"[^\"]*\"[^>]*>"

  /** All `<meta name="robots" content="…">` directive strings of a page
    * (both attribute orders, delimiter-anchored names so
    * `data-name="robots"` can't match) — the page-level index/follow
    * policy channel, robots.txt's in-document sibling. */
  private def metaRobotsContents(html: Column): Column = concat(
    regexp_extract_all(html, lit("(?is)<meta\\b[^>]*?[\\s\"']name\\s*=\\s*" +
      "\"robots\"[^>]*?[\\s\"']content\\s*=\\s*\"([^\"]*)\""), lit(1)),
    regexp_extract_all(html, lit("(?is)<meta\\b[^>]*?[\\s\"']content\\s*=" +
      "\\s*\"([^\"]*)\"[^>]*?[\\s\"']name\\s*=\\s*\"robots\""), lit(1)))

  // token-anchored within the directive list: 'noindexing' must not read
  // as noindex; 'none' implies both directives. Commas are the spec'd
  // separator but real crawlers/search engines also accept bare
  // whitespace (content="noindex nofollow") — missing that keeps an
  // opted-out page in the corpus, so whitespace is a boundary too
  private def hasRobotsToken(contents: Column, token: String): Column =
    exists(contents, c =>
      lower(c).rlike("(^|[\\s,])\\s*(" + token + "|none)\\s*([\\s,]|$)"))

  /** TRUE iff any meta-robots directive of the page says `noindex` (or
    * `none`) — the page asks to stay OUT of the corpus/index; most-
    * restrictive-wins across multiple tags, matching how search engines
    * combine them. Map-only. */
  def metaNoindex(html: Column): Column =
    hasRobotsToken(metaRobotsContents(html), "noindex")

  /** TRUE iff any meta-robots directive says `nofollow` (or `none`) —
    * none of the page's outlinks may enter the crawl frontier or vote in
    * the link graph. Map-only. */
  def metaNofollow(html: Column): Column =
    hasRobotsToken(metaRobotsContents(html), "nofollow")

  /** FOLLOWED outlinks — [[htmlLinks]] minus the links crawl policy says
    * to ignore: anchors carrying `rel="nofollow"` (token-anchored within
    * the rel list, so `rel="noopener nofollow"` drops but a hypothetical
    * `nofollowx` token doesn't; delimiter-anchored rel so
    * `data-rel="nofollow"` can't match), and EVERY link of a page whose
    * meta robots declares `nofollow`/`none`. This is the frame the
    * frontier and the host graph should consume — nofollow is precisely
    * the publisher's signal that a link is not an endorsement (paid
    * links, user-generated content), the reason search engines exclude
    * it from PageRank. Same explode + map-only shape as [[htmlLinks]];
    * output (doc_id, base_url, url). */
  def followLinks(docs: DataFrame, htmlCol: String = "html",
                  baseCol: String = "base_url"): DataFrame = {
    val tag = col("__tag")
    val relVal = lower(
      regexp_extract(tag, "(?is)[\\s\"']rel\\s*=\\s*\"([^\"]*)\"", 1))
    docs
      .where(!metaNofollow(col(htmlCol)))
      .select(col("doc_id"), col(baseCol),
        explode(regexp_extract_all(col(htmlCol), lit(AnchorTagPat), lit(0)))
          .as("__tag"))
      .where(!relVal.rlike("(^|[\\s,])nofollow([\\s,]|$)"))
      .select(col("doc_id"), col(baseCol),
        fenced(resolveHref(regexp_extract(tag, HrefPat, 1), col(baseCol)))
          .as("url"))
      .where(col("url").isNotNull)
  }

  /** Whole `<link …>` open tags — the head-element channel (canonical,
    * alternate, stylesheet declarations live here). */
  val LinkTagPat: String = "(?is)<link\\b[^>]*>"

  /** Language-alternate links (`<link rel="alternate" hreflang="xx"
    * href="…">`, RFC 8288 + Google's hreflang contract) — the signal
    * that groups a page with its TRANSLATIONS. Any attribute order;
    * rel tokens are token-anchored (a multi-token `alternate
    * stylesheet` still declares an alternate, `data-rel` can't match);
    * tags missing hreflang or href (the RSS `rel="alternate"` shape)
    * drop; hrefs entity-decode and resolve via [[resolveHref]]. Output
    * (doc_id, lang lowercased, url); one explode per page, map-only. */
  def hreflangLinks(docs: DataFrame, htmlCol: String = "html",
                    baseCol: String = "base_url"): DataFrame = {
    val tag = col("__tag")
    val relVal = lower(
      regexp_extract(tag, "(?is)[\\s\"']rel\\s*=\\s*\"([^\"]*)\"", 1))
    val lang = lower(
      regexp_extract(tag, "(?is)[\\s\"']hreflang\\s*=\\s*\"([^\"]*)\"", 1))
    val href = decodeEntities(
      regexp_extract(tag, "(?is)[\\s\"']href\\s*=\\s*\"([^\"]*)\"", 1))
    docs.select(col("doc_id"), col(baseCol),
        explode(regexp_extract_all(col(htmlCol), lit(LinkTagPat), lit(0)))
          .as("__tag"))
      .where(relVal.rlike("(^|[\\s,])alternate([\\s,]|$)") &&
        lang =!= "" && href =!= "")
      .select(col("doc_id"), lang.as("lang"),
        fenced(resolveHref(href, col(baseCol))).as("url"))
      .where(col("url").isNotNull)
  }

  /** Translation clusters from the hreflang graph: each page's cluster
    * key is its declared `x-default` alternate (canonicalized), falling
    * back to the smallest canonical alternate URL when no x-default is
    * declared — deterministic and consistent across the variant set as
    * long as the set declares consistent alternates (the hreflang
    * contract; pages with divergent declarations simply land in
    * different clusters, never an error). Output: one row per distinct
    * (cluster_key, lang, url) — the per-language variant table a
    * monolingual corpus builder filters (`lang == target`) and a
    * parallel-corpus miner joins on cluster_key.
    *
    * Shape at 100 TB: one partial-agg per page for the key, one
    * co-keyed join back on doc_id, one distinct on the cluster-sized
    * frame — no row explosion beyond the alternates themselves. The
    * extracted links are checkpointed once (the paginationChains
    * pattern): they feed BOTH the key aggregation and the join back,
    * and without the barrier the corpus-wide regex extraction scan —
    * the expensive stage — would execute twice. */
  def translationClusters(docs: DataFrame, htmlCol: String = "html",
                          baseCol: String = "base_url"): DataFrame = {
    val links = hreflangLinks(docs, htmlCol, baseCol)
      .select(col("doc_id"), col("lang"),
        urlCanonical(col("url")).as("curl"))
      .where(col("curl").isNotNull)
      .localCheckpoint()
    val keys = links.groupBy("doc_id").agg(
      coalesce(min(when(col("lang") === "x-default", col("curl"))),
        min(col("curl"))).as("cluster_key"))
    links.join(keys, "doc_id")
      .select(col("cluster_key"), col("lang"), col("curl").as("url"))
      .distinct()
  }

  /** Parallel-corpus CANDIDATE PAIRS mined from the hreflang clusters —
    * what [[translationClusters]]' variant table exists for: every
    * cross-language page pair of a cluster, sanity-gated, feeding
    * cross-lingual dedup and sentence-alignment. Pages join the variant
    * table on their canonical URL; `x-default` rows are excluded from
    * pairing (a routing hint, not a language). Gates:
    *
    *  - digest inequality — a byte-identical "translation" is an
    *    untranslated duplicate, not a pair;
    *  - length ratio — `min(tokens)/max(tokens) >= minLenRatio`
    *    (default 0.5): real translations have comparable lengths, a
    *    stub page paired with a full article is noise.
    *
    * Output (cluster_key, doc_a, doc_b, lang_a, lang_b, len_ratio),
    * doc_a < doc_b, ratio round(4) (always positive — no zero-sign
    * hazard). Empty-text pages never pair.
    *
    * Shape at 100 TB: the cluster build is [[translationClusters]]'
    * bounded-join shape; the pairing self-join keys on `cluster_key`
    * and a cluster holds at most one page per declared language —
    * language-count-sized, so the within-cluster quadratic is bounded
    * by ~(number of languages)², never corpus-sized. */
  def translationPairs(docs: DataFrame, minLenRatio: Double = 0.5,
                       htmlCol: String = "html", baseCol: String = "base_url",
                       textCol: String = "text"): DataFrame = {
    val variants = translationClusters(docs, htmlCol, baseCol)
      .where(col("lang") =!= "x-default")
    val pages = docs.select(col("doc_id"),
        urlCanonical(col(baseCol)).as("__curl"),
        coalesce(size(Dedup.tokens(col(textCol))).cast("long"), lit(0L))
          .as("__len"),
        md5(col(textCol)).as("__digest"))
      .where(col("__curl").isNotNull && col("__len") > 0)
    val m = variants.join(pages, variants("url") === pages("__curl"))
      .select(col("cluster_key"), col("lang"), col("doc_id"),
        col("__len"), col("__digest"))
    val a = m.select(col("cluster_key"), col("doc_id").as("doc_a"),
      col("lang").as("lang_a"), col("__len").as("__la"),
      col("__digest").as("__da"))
    val b = m.select(col("cluster_key"), col("doc_id").as("doc_b"),
      col("lang").as("lang_b"), col("__len").as("__lb"),
      col("__digest").as("__db"))
    a.join(b, Seq("cluster_key"))
      .where(col("doc_a") < col("doc_b") && col("lang_a") =!= col("lang_b") &&
        col("__da") =!= col("__db"))
      .withColumn("len_ratio",
        round(least(col("__la"), col("__lb")).cast("double")
          / greatest(col("__la"), col("__lb")), 4))
      .where(col("len_ratio") >= minLenRatio)
      .select(col("cluster_key"), col("doc_a"), col("doc_b"),
        col("lang_a"), col("lang_b"), col("len_ratio"))
  }

  /** Outlinks WITH their anchor text — the web graph's labeled edges
    * (anchor text is the classic off-page relevance/quality signal:
    * what OTHER pages call this page). One explode per page into anchor
    * elements, then map-only regex per element: the href resolves
    * exactly as [[htmlLinks]] (same [[resolveHref]]), the text is the
    * element body with inline tags stripped, entities decoded,
    * whitespace normalized. Keeps `base_url` so the host graph can key
    * edges by source host. Output (doc_id, base_url, url, text);
    * unresolvable hrefs drop. */
  def htmlAnchors(docs: DataFrame, htmlCol: String = "html",
                  baseCol: String = "base_url"): DataFrame = {
    val elem = col("__elem")
    val href = regexp_extract(elem, HrefPat, 1)
    val body = regexp_extract(elem, "(?is)^<a\\b[^>]*>(.*)</a>$", 1)
    docs.select(col("doc_id"), col(baseCol),
        explode(regexp_extract_all(col(htmlCol), lit(AnchorElemPat), lit(0)))
          .as("__elem"))
      .select(col("doc_id"), col(baseCol),
        fenced(resolveHref(href, col(baseCol))).as("url"),
        wsNorm(decodeEntities(stripInline(body))).as("text"))
      .where(col("url").isNotNull)
  }

  /** Anchor-text profile per link TARGET: for each canonical target URL,
    * how many anchors point at it (ALL of them — image/icon anchors with
    * empty text still count as inlinks), how many distinct non-empty
    * texts they use, and the dominant text (highest count; ties broken
    * by the lexicographically smallest text, via min(struct(−cnt, text))
    * so the pick is one deterministic partial agg, not a window). Empty
    * anchor texts don't vote for the dominant text; a target linked ONLY
    * by empty-text anchors reports NULL top_text/top_count. Two
    * partial-agg shuffles — (url, text) then url — both map-side
    * combined; no row explosion beyond the anchors themselves. */
  def anchorText(anchors: DataFrame, urlCol: String = "url",
                 textCol: String = "text"): DataFrame =
    anchors
      .select(urlCanonical(col(urlCol)).as("canonical_url"),
        col(textCol).as("__t"))
      .where(col("canonical_url").isNotNull)
      .groupBy("canonical_url", "__t")
      .agg(count(lit(1)).as("__cnt"))
      .groupBy("canonical_url")
      .agg(sum(col("__cnt")).as("n_anchors"),
        count(when(col("__t") =!= "", lit(1))).as("n_texts"),
        min(when(col("__t") =!= "",
          struct((-col("__cnt")).as("nc"), col("__t").as("t")))).as("__top"))
      .select(col("canonical_url"), col("n_anchors"), col("n_texts"),
        col("__top.t").as("top_text"), (-col("__top.nc")).as("top_count"))

  /** Host-level link graph from labeled/unlabeled outlinks: edges
    * (src = the linking page's canonical host, dst = the target's
    * canonical host, w = link count), SELF-LOOPS EXCLUDED (intra-site
    * navigation dominates raw counts and carries no cross-site authority
    * — the standard host-graph convention, documented divergence from
    * the raw link list). One partial agg onto the hosts²-bounded frame. */
  def hostGraph(links: DataFrame, baseCol: String = "base_url",
                urlCol: String = "url"): DataFrame =
    links.select(urlHost(col(baseCol)).as("src"),
        urlHost(col(urlCol)).as("dst"))
      .where(col("src") =!= "" && col("dst") =!= "" &&
        col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Host AUTHORITY ranking: weighted PageRank over [[hostGraph]] — the
    * crawl-prioritization signal (which hosts the web's link mass
    * concentrates on). Math + determinism + 100 TB shape all in the ONE
    * shared [[Graphs.pageRank]] (also under the service-dependency
    * centrality): after hostGraph's single agg the work is arithmetic on
    * the hosts²-bounded edge frame. Returns (host, rank). */
  def hostRank(links: DataFrame, iters: Int = 2, damping: Double = 0.85,
               baseCol: String = "base_url",
               urlCol: String = "url"): DataFrame =
    Graphs.pageRank(hostGraph(links, baseCol, urlCol), iters, damping)
      .withColumnRenamed("node", "host")

  /** Per-host CRAWL BUDGET: cap the frontier at `cap` URLs per canonical
    * host, keeping the most-linked first (inlink count desc, then
    * canonical URL asc — fully deterministic). The politeness/fairness
    * gate every crawler runs: without it one mega-host floods the fetch
    * queue. Input is [[urlDedup]]'s shape (canonical_url, group_size);
    * output adds (host, rk) and keeps only rows within budget.
    *
    * Shape at 100 TB: ONE window partitioned by host — parallelism is
    * the host count (billions of hosts, bounded rows per host after
    * urlDedup), never a global sort. */
  def crawlBudget(frontier: DataFrame, cap: Int,
                  urlCol: String = "canonical_url",
                  inlinksCol: String = "group_size"): DataFrame = {
    require(cap >= 1, s"bad crawl budget cap $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host")
      .orderBy(col(inlinksCol).desc, col(urlCol).asc)
    frontier.withColumn("host", urlHost(col(urlCol)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= cap)
  }

  /** Crawl SNAPSHOT DELTA — the incremental-recrawl planner's input:
    * full outer join of two crawl snapshots on canonical URL, each URL
    * classified `new` (this crawl only) / `gone` (previous crawl only) /
    * `changed` (both, content digest differs) / `unchanged`. Duplicate
    * canonical URLs within a snapshot collapse keep-first (min id, the
    * [[urlDedup]] contract) BEFORE the compare, so the join stays
    * one-row-per-key. Output (canonical_url, status, prev_digest,
    * curr_digest).
    *
    * Shape at 100 TB: two keep-first partial aggs + one equi-join on the
    * canonical URL — the natural bucketing key for a crawl store, so on
    * bucketed snapshots the join is co-located and shuffle-free. */
  def crawlDelta(prev: DataFrame, curr: DataFrame,
                 idCol: String = "doc_id", urlCol: String = "url",
                 contentCol: String = "text"): DataFrame = {
    def snap(df: DataFrame, digestName: String) =
      snapshotDigests(df, idCol, urlCol, contentCol)
        .withColumnRenamed("digest", digestName)
    snap(prev, "prev_digest")
      .join(snap(curr, "curr_digest"), Seq("canonical_url"), "full_outer")
      .select(col("canonical_url"),
        when(col("prev_digest").isNull, lit("new"))
          .when(col("curr_digest").isNull, lit("gone"))
          .when(col("prev_digest") === col("curr_digest"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("prev_digest"), col("curr_digest"))
  }

  /** ONE snapshot-collapse rule shared by [[crawlDelta]] and the
    * streaming [[graft.streaming.CorpusStreams.recrawlGate]] (which pins
    * per-URL equivalence to the batch delta — the rule living twice
    * would be a drift surface): keep-first (min id) content digest per
    * canonical URL. NULL content digests as empty content (md5(NULL)
    * would be NULL, which the delta compare would misread as absence —
    * a fetched-but-empty page is a real fetch, not a gone page).
    * Returns (canonical_url, digest). */
  def snapshotDigests(df: DataFrame, idCol: String = "doc_id",
                      urlCol: String = "url",
                      contentCol: String = "text"): DataFrame =
    df.select(col(idCol).as("__id"),
        urlCanonical(col(urlCol)).as("canonical_url"),
        md5(coalesce(col(contentCol), lit(""))).as("__d"))
      .where(col("canonical_url").isNotNull)
      .groupBy("canonical_url")
      .agg(min(struct(col("__id"), col("__d"))).getField("__d").as("digest"))

  /** HOST QUALITY profile — the RefinedWeb-style signal that lets a crawl
    * blocklist/allowlist itself from data: per canonical host, how many
    * documents it contributed and what fraction survive the C4 line
    * filter and the Gopher quality gate (plus the joint keep rate a
    * curation run actually applies). Keep rates average exact 0/1
    * doubles, so the sums are order-insensitive integers in disguise and
    * round(4) is engine-stable.
    *
    * Shape at 100 TB: genuinely ONE pass — the verdicts are the COLUMN
    * forms of the filters (`gopherKeep`/`c4Keep`, identical rules to the
    * report operators by shared construction), so the corpus is read
    * once, map-only, into a single uniform-key partial agg onto the
    * hosts-sized frame. No join back on doc_id, no second scan. A host
    * with a low keep_rate here feeds the NEXT crawl's blocklist — the
    * data-driven feedback loop between the text filters and
    * [[urlFilter]]. */
  def hostQuality(pages: DataFrame, urlCol: String = "url",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // gopherFilter's n_words rule via the ONE shared tokenization
    // (ADVICE r15: re-inlining the split-lowered-drop-empties rule here
    // was exactly the drift surface the shared definition exists to kill)
    val nWords = size(Dedup.tokens(t)).cast("long")
    pages.select(urlHost(col(urlCol)).as("host"), nWords.as("__nw"),
        CorpusFilters.gopherKeep(t).as("__gk"),
        CorpusFilters.c4Keep(t).as("__ck"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_words"),
        round(avg(when(col("__gk"), 1.0).otherwise(0.0)), 4)
          .as("gopher_keep_rate"),
        round(avg(when(col("__ck"), 1.0).otherwise(0.0)), 4)
          .as("c4_keep_rate"),
        round(avg(when(col("__gk") && col("__ck"), 1.0).otherwise(0.0)), 4)
          .as("keep_rate"))
  }

  /** Parse sitemap XML bodies (sitemaps.org protocol, text-skeleton
    * subset a SQL oracle replays byte-for-byte — the crawl DISCOVERY
    * channel beside link extraction: a site's own list of URLs with
    * freshness hints): one row per `<url>` entry — entity-decoded `<loc>`
    * plus optional `lastmod` / `changefreq` / `priority` (missing → NULL,
    * never an error; an entry with no loc is skipped — there is nothing
    * to crawl). Map-only after one explode per sitemap file; composes
    * with [[urlFilter]]/[[robotsFilter]]/[[urlDedup]] exactly like
    * extracted outlinks. Output (host, loc, lastmod, changefreq,
    * priority). */
  def sitemapParse(sitemaps: DataFrame, hostCol: String = "host",
                   bodyCol: String = "body"): DataFrame = {
    val entry = col("__e")
    def tag(name: String) =
      regexp_extract(entry, s"(?is)<$name[^>]*>(.*?)</$name>", 1)
    val locRaw = wsNorm(decodeEntities(tag("loc")))
    val lmRaw = wsNorm(tag("lastmod"))
    val cfRaw = wsNorm(tag("changefreq"))
    val prioRaw = wsNorm(tag("priority"))
    def emptyToNull(c: Column) =
      when(c === "", lit(null).cast("string")).otherwise(c)
    sitemaps.select(col(hostCol).as("host"),
        explode(regexp_extract_all(col(bodyCol),
          lit("(?is)<url\\b[^>]*>.*?</url>"), lit(0))).as("__e"))
      .select(col("host"), locRaw.as("loc"),
        emptyToNull(lmRaw).as("lastmod"),
        emptyToNull(cfRaw).as("changefreq"),
        // the sitemaps.org priority grammar (digits, optional fraction) —
        // a looser [0-9.]+ admits '1.2.3', which this cast NULLs silently
        // but an ANSI engine (and the DuckDB oracle) would hard-error on
        when(prioRaw.rlike("^[0-9]+(\\.[0-9]+)?$"), prioRaw.cast("double"))
          .otherwise(lit(null).cast("double")).as("priority"))
      .where(col("loc") =!= "")
  }

  /** Parse sitemap INDEX XML bodies (sitemaps.org `<sitemapindex>` — the
    * ROOT of real-world sitemap discovery: robots.txt points at an
    * index, the index lists child sitemap files, the children list page
    * URLs): one row per `<sitemap>` entry — entity-decoded `<loc>` plus
    * optional `<lastmod>` (missing → NULL, never an error; an entry with
    * no loc is skipped). The `<sitemap\b` pattern cannot match the
    * enclosing `<sitemapindex>` tag (no word boundary inside
    * `sitemapindex`). Output (host, loc, lastmod) — deliberately
    * [[sitemapRecrawl]]'s entries contract, so the same due computation
    * schedules WHICH CHILD SITEMAPS to refetch before a single page URL
    * is seen: index → due children → [[sitemapParse]] → due pages, the
    * two-level discovery loop. Map-only after one explode per index
    * file. */
  def sitemapIndex(indexes: DataFrame, hostCol: String = "host",
                   bodyCol: String = "body"): DataFrame = {
    val entry = col("__e")
    def tag(name: String) =
      regexp_extract(entry, s"(?is)<$name[^>]*>(.*?)</$name>", 1)
    val locRaw = wsNorm(decodeEntities(tag("loc")))
    val lmRaw = wsNorm(tag("lastmod"))
    indexes.select(col(hostCol).as("host"),
        explode(regexp_extract_all(col(bodyCol),
          lit("(?is)<sitemap\\b[^>]*>.*?</sitemap>"), lit(0))).as("__e"))
      .select(col("host"), locRaw.as("loc"),
        when(lmRaw === "", lit(null).cast("string")).otherwise(lmRaw)
          .as("lastmod"))
      .where(col("loc") =!= "")
  }

  /** Sitemap-driven RECRAWL schedule: sitemap entries joined to the crawl
    * store's per-canonical-URL last-crawl time — an entry is `due` when
    * never crawled OR its declared lastmod is strictly later than the
    * stored crawl time (string compare — both sides are ISO-8601 dates,
    * where lexicographic IS chronological; an entry with no lastmod is
    * due only if never crawled, the conservative read of the protocol's
    * optional field). One equi-join on the canonical URL, the crawl
    * store's natural bucket key. Output adds (canonical_url, crawled_at,
    * due). */
  def sitemapRecrawl(entries: DataFrame, crawled: DataFrame,
                     locCol: String = "loc", crawledUrlCol: String = "url",
                     crawledAtCol: String = "crawled_at"): DataFrame = {
    val store = crawled.select(
        urlCanonical(col(crawledUrlCol)).as("__cu"),
        col(crawledAtCol).as("crawled_at"))
      .where(col("__cu").isNotNull)
      .groupBy("__cu").agg(max(col("crawled_at")).as("crawled_at"))
    entries.withColumn("canonical_url", urlCanonical(col(locCol)))
      .where(col("canonical_url").isNotNull)
      .join(store, col("canonical_url") === col("__cu"), "left")
      .withColumn("due", col("crawled_at").isNull ||
        (col("lastmod").isNotNull && col("lastmod") > col("crawled_at")))
      .drop("__cu")
  }

  /** Declared-canonical extraction: the page's own
    * `<link rel="canonical" href="…">` (both attribute orders), entity-
    * decoded — the dedup signal a site PUBLISHES (print/mobile/tracking
    * variants all declare one canonical). Empty when absent. */
  def relCanonical(html: Column): Column = {
    // [\s"']rel, not \brel: '-' is a word boundary, so \brel would match
    // inside data-rel="canonical" and dedup every page carrying such a
    // tag into one group keyed by whatever that link's href is — the
    // same delimiter-anchoring HrefPat uses against data-href
    val relFirst = regexp_extract(html,
      "(?is)<link\\b[^>]*?[\\s\"']rel\\s*=\\s*\"canonical\"[^>]*?[\\s\"']href\\s*=\\s*\"([^\"]*)\"", 1)
    val hrefFirst = regexp_extract(html,
      "(?is)<link\\b[^>]*?[\\s\"']href\\s*=\\s*\"([^\"]*)\"[^>]*?[\\s\"']rel\\s*=\\s*\"canonical\"", 1)
    decodeEntities(when(relFirst =!= "", relFirst).otherwise(hrefFirst))
  }

  /** Dedup by DECLARED canonical: group pages by their self-declared
    * rel=canonical target (canonicalized; pages declaring none fall back
    * to their own canonical URL), keep-first per group — catches the
    * variant sets [[urlCanonical]]'s syntactic rules cannot see (print
    * views, mobile subdomains, session-id paths) because the SITE says
    * they are one page. A page declaring an UNPARSEABLE canonical drops
    * (declaring garbage is not declaring nothing — silently falling back
    * to self would merge a misconfigured variant set into distinct
    * pages). Same min-struct partial-agg shape as [[urlDedup]]. */
  def relCanonicalDedup(pages: DataFrame, idCol: String = "doc_id",
                        urlCol: String = "url",
                        htmlCol: String = "html"): DataFrame = {
    val declared = relCanonical(col(htmlCol))
    val key = urlCanonical(
      when(declared =!= "", declared).otherwise(col(urlCol)))
    pages.select(col(idCol), key.as("canonical_target"))
      .where(col("canonical_target").isNotNull)
      .groupBy("canonical_target")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))
  }

  /** The page's declared `<link rel="next" href>` target (both attribute
    * orders, entity-decoded, delimiter-anchored rel — the relCanonical
    * conventions), '' when absent: the pagination channel (page 2, page
    * 3 … of a multi-page article). */
  def relNext(html: Column): Column = {
    val relFirst = regexp_extract(html,
      "(?is)<link\\b[^>]*?[\\s\"']rel\\s*=\\s*\"next\"[^>]*?[\\s\"']href\\s*=\\s*\"([^\"]*)\"", 1)
    val hrefFirst = regexp_extract(html,
      "(?is)<link\\b[^>]*?[\\s\"']href\\s*=\\s*\"([^\"]*)\"[^>]*?[\\s\"']rel\\s*=\\s*\"next\"", 1)
    decodeEntities(when(relFirst =!= "", relFirst).otherwise(hrefFirst))
  }

  /** Pagination chains from the rel=next graph — the article-
    * reconstruction prerequisite (a multi-page article is ONE training
    * document, not N boilerplate-sharing fragments). Nodes are pages
    * keyed by canonical URL (duplicate canonicals collapse keep-first —
    * the urlDedup rule); next pointers RESOLVE against the page URL
    * first (relative rel=next — the common real-world form — chains
    * like absolute ones) and then canonicalize; a chain ROOT is a node
    * no other node's next pointer targets (pure cycles therefore have
    * no root and drop whole — a rel=next loop is a site bug, not an
    * article), and a walk carries its visited set so a pointer BACK
    * into the walked prefix (a rho-shaped tail into a cycle) ends the
    * chain instead of re-emitting pages; each root walks up to
    * `maxHops` (longer chains truncate, documented bound). Output
    * (chain_root, hop, doc_id, canonical_url).
    *
    * Shape at 100 TB: `maxHops` equi-joins on the canonical-URL key
    * (each co-keyed and partial-agg-friendly), never an unbounded
    * iteration — the same bounded-loop contract as Graphs.pageRank;
    * the visited set is a maxHops-bounded array per in-flight walk. */
  def paginationChains(pages: DataFrame, maxHops: Int = 5,
                       idCol: String = "doc_id", urlCol: String = "url",
                       htmlCol: String = "html"): DataFrame = {
    require(maxHops >= 1, s"bad maxHops $maxHops")
    // Staged + fenced resolution (the htmlLinks contract): urlCanonical
    // textually references its argument ~6 times, so nesting the 27 KB
    // resolveHref tree inside it multiplies AT CONSTRUCTION — the
    // checkpoint job below was plan/codegen-bound (~4.5 s of the query's
    // 5.0 s at sf0.1) before the resolver was computed once behind a
    // fence and canonicalized as a plain attribute. urlCanonical(NULL)
    // is NULL (every branch concats through the null), so the staged
    // form preserves the declared=='' → NULL contract exactly.
    val declared = relNext(col(htmlCol))
    val resolved = pages.select(col(idCol).as("__d"), col(urlCol).as("__u"),
      fenced(when(declared === "", lit(null).cast("string"))
        .otherwise(resolveHref(declared, col(urlCol)))).as("__nraw"))
    val raw = resolved.select(col("__d"),
      urlCanonical(col("__u")).as("cu"),
      urlCanonical(col("__nraw")).as("nu"))
      .where(col("cu").isNotNull)
    val nodes = raw.groupBy("cu")
      .agg(min(struct(col("__d").as("d"), col("nu").as("n"))).as("__k"))
      .select(col("cu"), col("__k.d").as("d"), col("__k.n").as("n"))
      .localCheckpoint()
    val targets = nodes.select(col("n").as("cu")).where(col("cu").isNotNull)
      .distinct()
    val roots = nodes.join(targets, Seq("cu"), "left_anti")
    // Linear walk, ONE frame: each hop LEFT-joins the chain front against
    // the node table and appends (hop, doc_id, url) to a per-chain entries
    // array when the walk extends (next pointer present, target exists,
    // revisit guard passes — a next pointer back into this walk's own
    // prefix ends the chain, so rho tails don't loop the cycle); a chain
    // that ends carries its entries forward unchanged with a null front.
    // One explode at the end emits the same (chain_root, hop, doc_id,
    // canonical_url) rows the old per-level union produced — but the old
    // form REPLAYED the join lineage per level (level h's plan contained
    // joins 1..h, so a maxHops walk planned and executed O(maxHops²)
    // joins: 15 at the default 5). This is O(maxHops) joins in one linear
    // plan; entries/seen arrays stay maxHops-bounded per in-flight walk,
    // the same 100 TB contract as before. Measured at sf0.1:
    // ta_pagination 5.0 s → see plans/r17/ta_pagination_after.txt.
    var walk = roots.select(col("cu").as("chain_root"),
      array(struct(lit(0).as("hop"), col("d").as("doc_id"),
        col("cu").as("canonical_url"))).as("__entries"),
      col("n").as("__next"),
      array(col("cu")).as("__seen"))
    for (h <- 1 to maxHops) {
      val step = walk.join(
        nodes.select(col("cu").as("__want"), col("d").as("__d"),
          col("n").as("__n")),
        col("__next") === col("__want"), "left")
      val extend = col("__want").isNotNull &&
        !array_contains(col("__seen"), col("__want"))
      walk = step.select(
        col("chain_root"),
        when(extend, concat(col("__entries"), array(struct(
            lit(h).as("hop"), col("__d").as("doc_id"),
            col("__want").as("canonical_url")))))
          .otherwise(col("__entries")).as("__entries"),
        when(extend, col("__n"))
          .otherwise(lit(null).cast("string")).as("__next"),
        when(extend, concat(col("__seen"), array(col("__want"))))
          .otherwise(col("__seen")).as("__seen"))
    }
    walk.select(col("chain_root"), explode(col("__entries")).as("__e"))
      .select(col("chain_root"), col("__e.hop").as("hop"),
        col("__e.doc_id").as("doc_id"),
        col("__e.canonical_url").as("canonical_url"))
  }

  /** Chain MERGE: one row per chain root with the page count and the
    * md5 of the hop-ordered newline-joined content — the reconstructed
    * article. One partial agg; the per-chain buffer is maxHops-bounded
    * by [[paginationChains]]' construction. */
  def mergeChains(chains: DataFrame, docs: DataFrame,
                  contentCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    chains.join(docs.select(col(idCol).as("doc_id"), col(contentCol)), "doc_id")
      .groupBy("chain_root")
      .agg(count(lit(1)).as("n_pages"),
        md5(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("hop"),
            col(contentCol).as("c")))),
          x => x.getField("c")))).as("content_digest"))

  /** Deterministic cross-host ANCHOR fixture over the `documents` table
    * (same construction as a DuckDB CTE — the oracle replays on
    * identical bytes): seven hosts h0–h6.example.org; each doc's page
    * carries four anchors exercising the resolution/canonicalization
    * matrix — an absolute http link, a protocol-relative link with the
    * default :443 port and a trailing slash, a root-relative SELF-host
    * link (the host-graph self-loop case), and an upper-case
    * www/port/tracking-param/fragment link with a nested inline tag in
    * its anchor text. Anchor texts come from the doc's own words so text
    * aggregation has real variety. */
  def anchorFixture(docs: DataFrame, limit: Int = 150,
                    textCol: String = "text"): DataFrame = {
    val subset = if (limit > 0) docs.orderBy("doc_id").limit(limit) else docs
    val base = subset
      .select(col("doc_id"), Dedup.tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
    def w(i: Int) = coalesce(element_at(col("ws"), i), lit(s"w$i"))
    def hostN(off: Int) =
      concat(lit("h"), ((col("doc_id") + off) % 7).cast("string"),
        lit(".example.org"))
    val id = col("doc_id").cast("string")
    base.select(col("doc_id"),
      concat(lit("https://h"), (col("doc_id") % 7).cast("string"),
        lit(".example.org/d/"), id).as("base_url"),
      concat(
        lit("<html><body><p>See <a href=\"http://"), hostN(1),
        lit("/p/"), (col("doc_id") % 20).cast("string"), lit("\">"),
        w(1), lit(" "), w(2), lit("</a> now.</p><p><a href=\"//"),
        hostN(3), lit(":443/q/"), (col("doc_id") % 10).cast("string"),
        lit("/\">"), w(3),
        lit(" &amp; co</a></p><p><a href=\"/local/"),
        (col("doc_id") % 5).cast("string"), lit("\">back "), w(1),
        lit("</a> <a data-href=\"/x\" href=\"HTTPS://WWW."), hostN(5),
        lit(":443/r/?b=2&a=1&utm_source=x#f\"><b>"), w(4),
        lit("</b> page</a></p></body></html>")).as("html"))
  }
}
