package graft.parse

import java.time.OffsetDateTime
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.util.Locale
import java.util.regex.{Matcher, Pattern}

import graft.model.{Malicious, ParsedFields, UaInfo}

/** The "grok" stage: the five log-format parsers plus the derived fields
  * (path split, referer normalization, malicious classification, UA
  * classification, robots override). Semantics mirror the reference
  * (logparsers/httpservers.go) exactly; pinned by LineParserSpec.
  *
  * Format auto-detection follows the reference quirk (main.go:743-749): the
  * detection loop does not break, so the LAST matching format wins — which is
  * equivalent to first-match over the reversed format list, the form used
  * here so each row tries at most 5 regexes and stops early.
  */
object LineParser {

  sealed abstract class Format(val name: String)
  case object ApacheCommon extends Format("apache_common")
  case object ApacheCombined extends Format("apache_combined")
  case object ApacheVHostCombined extends Format("apache_vhost_combined")
  case object NginxCombined extends Format("nginx_combined")
  case object NginxCustom extends Format("nginx_custom")

  /** reference declaration order — main.go:735-739 */
  val formatsInOrder: Seq[Format] =
    Seq(ApacheCommon, ApacheCombined, ApacheVHostCombined, NginxCombined, NginxCustom)

  // regexes — httpservers.go:170, :197, :229, :260, :289
  private val reCommon = Pattern.compile(
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+)$")
  private val reCombined = Pattern.compile(
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\"$")
  private val reVHost = Pattern.compile(
    "^(\\S+) (\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\"$")
  private val reNginx = Pattern.compile(
    "^(\\S+) - (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\"$")
  private val reNginxCustom = Pattern.compile(
    "^(\\S+) - (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\" (\\S+) (\\S+)$")

  private val reUtmSource = Pattern.compile("(\\?|&)utm_source=([^&]+)(&|\\z)")
  private val reXss = Pattern.compile("<script|script>|alert|onmouseover|onmouseout")
  private val reSqlInj = Pattern.compile("'.*(insert|update|exec|execute)")

  // Go layout "02/Jan/2006:15:04:05 -0700" — httpservers.go:322/:332.
  // Go time.Parse matches month names byte-wise, case-insensitively and
  // ASCII only ("10/OCT/2000:…" parses, "10/ſep/2000:…" does not), so the
  // formatter is case-insensitive behind an ASCII guard and the fast path
  // folds the month key only after rejecting non-ASCII characters.
  private val tsFormat = new java.time.format.DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .appendPattern("dd/MMM/uuuu:HH:mm:ss Z")
    .toFormatter(Locale.ENGLISH)
    .withResolverStyle(ResolverStyle.STRICT)

  /** every char is ASCII: the Go layout is, so a timestamp with any other
    * char cannot parse (Java's case folding would map e.g. 'ſ' to 'S')
    */
  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 0x80) return false; i += 1 }
    true
  }

  /** allocation-free month lookup with Go's ASCII-only case fold, returns
    * 1-12 or -1
    */
  private def monthNum(s: String, from: Int): Int = {
    // a non-ASCII char never matches a month name in Go, though Java's
    // toUpperCase folds 'ſ' (U+017F) to 'S'; packed, chars >= 0x80 would
    // also OR across byte lanes and could alias a valid month
    if ((s.charAt(from) | s.charAt(from + 1) | s.charAt(from + 2)) >= 0x80) return -1
    val c0 = Character.toUpperCase(s.charAt(from))
    val c1 = Character.toLowerCase(s.charAt(from + 1))
    val c2 = Character.toLowerCase(s.charAt(from + 2))
    ((c0 << 16) | (c1 << 8) | c2) match {
      case 0x4A616E => 1  // Jan
      case 0x466562 => 2  // Feb
      case 0x4D6172 => 3  // Mar
      case 0x417072 => 4  // Apr
      case 0x4D6179 => 5  // May
      case 0x4A756E => 6  // Jun
      case 0x4A756C => 7  // Jul
      case 0x417567 => 8  // Aug
      case 0x536570 => 9  // Sep
      case 0x4F6374 => 10 // Oct
      case 0x4E6F76 => 11 // Nov
      case 0x446563 => 12 // Dec
      case _        => -1
    }
  }

  private def dig(c: Char): Int = if (c >= '0' && c <= '9') c - '0' else -1000

  /** The strict formatter behind the ASCII guard, with no fast path: the
    * independent reference tsEpochOff's packed fast path is tested against.
    */
  def parseTimestamp(s: String): Option[OffsetDateTime] =
    if (!isAscii(s)) None
    else
      try Some(OffsetDateTime.parse(s, tsFormat))
      catch { case _: Exception => None }

  /** "no timestamp" sentinel for the packed (epochSec, offset) encoding */
  private[parse] val TsNone: Long = Long.MinValue

  /** days since 1970-01-01 for a civil (y, m, d) — the standard
    * days-from-civil closed form; value-identical to
    * LocalDate.of(y,m,d).toEpochDay for every valid date (LineParserSpec
    * sweeps all four-digit-year dates)
    */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365L + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if (y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Hot-path timestamp parse, ALLOCATION-FREE for the exact 26-char layout:
    * packs (epochSeconds, offsetSeconds) into one long as
    * epochSec * 131072 + (offset + 64800); TsNone = unparseable or out of
    * the packed range (years past about ±2.2 million). Semantics
    * are exactly parseTimestamp's (the fast path validates like the strict
    * formatter — day-of-month per month, |offset| <= 18h, ASCII month
    * names; anything structurally off falls back to the formatter).
    * Value-equivalence is property-pinned in ParseProps and LineParserSpec.
    */
  def tsEpochOff(s: String): Long = {
    if (s.length == 26 && s.charAt(2) == '/' && s.charAt(6) == '/' &&
      s.charAt(11) == ':' && s.charAt(14) == ':' && s.charAt(17) == ':' &&
      s.charAt(20) == ' ' && (s.charAt(21) == '+' || s.charAt(21) == '-')) {
      val day = dig(s.charAt(0)) * 10 + dig(s.charAt(1))
      val mon = monthNum(s, 3)
      val year = dig(s.charAt(7)) * 1000 + dig(s.charAt(8)) * 100 + dig(s.charAt(9)) * 10 + dig(s.charAt(10))
      val hh = dig(s.charAt(12)) * 10 + dig(s.charAt(13))
      val mm = dig(s.charAt(15)) * 10 + dig(s.charAt(16))
      val ss = dig(s.charAt(18)) * 10 + dig(s.charAt(19))
      val offH = dig(s.charAt(22)) * 10 + dig(s.charAt(23))
      val offM = dig(s.charAt(24)) * 10 + dig(s.charAt(25))
      if (mon > 0 && day >= 1 && year >= 0 && hh >= 0 && hh <= 23 &&
        mm >= 0 && mm <= 59 && ss >= 0 && ss <= 59 && offH >= 0 && offM >= 0 && offM <= 59) {
        // the strict formatter rejects a day past the month's end and an
        // offset past 18h
        if (day > daysInMonth(year, mon)) return TsNone
        val off = offH * 3600 + offM * 60
        if (off > 64800) return TsNone
        val signedOff = if (s.charAt(21) == '-') -off else off
        val epochSec =
          epochDay(year, mon, day) * 86400L + hh * 3600L + mm * 60L + ss - signedOff
        return epochSec * 131072L + (signedOff + 64800L)
      }
    }
    // structurally off the fast layout: the strict formatter decides, behind
    // the same ASCII guard as parseTimestamp. Its signed years reach
    // ±999,999,999, the packed form only about ±2.2 million: past that,
    // TsNone (the overflow is an ArithmeticException)
    if (!isAscii(s)) return TsNone
    try {
      val o = OffsetDateTime.parse(s, tsFormat)
      Math.multiplyExact(o.toEpochSecond, 131072L) + (o.getOffset.getTotalSeconds + 64800L)
    } catch { case _: Exception => TsNone }
  }

  private def atoi(s: String): Long =
    try s.toLong
    catch { case _: Exception => 0L } // strconv.Atoi error → 0 (httpservers.go:176)

  /** Path split + malicious classification — httpservers.go:95-165. */
  private[parse] def pathFields(requestUri: String): (String, String, String, String, Int) = {
    GoUrl.parseRequestUri(requestUri) match {
      case None =>
        // invalid URI: Path = raw cut at '?', no split, Malicious=INVALID (httpservers.go:99-102)
        val cut = requestUri.indexOf('?')
        val path = if (cut >= 0) requestUri.substring(0, cut) else requestUri
        (path, "", "", "", Malicious.Invalid)
      case Some((path, rawQuery)) =>
        var p1 = ""; var p2 = ""; var p3 = ""
        if (path.nonEmpty) {
          val split = path.split("/", -1) // Go strings.Split keeps trailing empties
          if (split.length == 1) p1 = "/"
          if (split.length > 1) p1 = "/" + split(1)
          if (split.length > 2) p2 = p1 + "/" + split(2)
          if (split.length > 3) p3 = p2 + "/" + split(3)
        }
        val mal =
          if (path.contains("/../") || requestUri.contains("%00")) Malicious.Traversal
          else if (reXss.matcher(rawQuery).find()) Malicious.Xss
          else if (reSqlInj.matcher(rawQuery).find()) Malicious.SqlInj
          else Malicious.Unknown
        (path, p1, p2, p3, mal)
    }
  }

  /** Referer normalization — httpservers.go:79-93: a utm_source query param
    * on the REQUEST URI overrides the referer header; otherwise the referer's
    * hostname with a leading "www." stripped.
    */
  private val refererCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def refererHostCached(referer: String): String = {
    // memoized: referer cardinality is small relative to rows; pure function
    val hit = refererCache.get(referer)
    if (hit != null) hit
    else {
      val host = GoUrl.refererHostname(referer)
      val norm = if (host.startsWith("www.")) host.substring(4) else host
      if (refererCache.size < 100000) refererCache.put(referer, norm)
      norm
    }
  }

  /** All URI-derived fields (path split, malicious class, utm_source
    * override), memoized per URI string — the same bounded-pure-function memo
    * as the referer/UA caches: path cardinality is far below row count in
    * real logs (the reference re-derives per line single-threaded), and
    * every field here is a pure function of the URI. utm is null when the
    * URI carries no utm_source parameter (reUtmSource semantics).
    */
  private[parse] final case class UriFields(
      path: String, p1: String, p2: String, p3: String, mal: Int, utm: String)

  private val uriCache = new java.util.concurrent.ConcurrentHashMap[String, UriFields]()

  private[parse] def uriFields(uri: String): UriFields = {
    val hit = uriCache.get(uri)
    if (hit != null) return hit
    val (path, p1, p2, p3, mal) = pathFields(uri)
    val m = reUtmSource.matcher(uri)
    val utm = if (m.find()) m.group(2) else null
    val uf = UriFields(path, p1, p2, p3, mal, utm)
    if (uriCache.size < 100000) uriCache.put(uri, uf)
    uf
  }

  private def build(
      fmt: Format,
      domain: String, clientIp: String, logname: String, user: String,
      tsStr: String, method: String, uri: String, protocol: String,
      status: String, bytes: String, refererRaw: Option[String], uaRaw: Option[String]): ParsedFields = {
    // packed-epoch fast path: same values as parseTimestamp (Timestamp.from
    // of a whole-second instant = new Timestamp(sec * 1000), nanos 0) without
    // the OffsetDateTime/Instant/ZoneOffset intermediates per line
    val ts = tsEpochOff(tsStr)
    val uf = uriFields(uri)
    val referer = refererRaw.map { r =>
      if (uf.utm != null) uf.utm
      else if (r.nonEmpty) refererHostCached(r)
      else ""
    }.getOrElse("")
    val ua = uaRaw.map { u =>
      val base = UserAgents.classify(u)
      if (uf.p1 == "/robots.txt") UserAgents.robotsOverride(base) else base
    }
    ParsedFields(
      domain = domain, client_ip = clientIp, remote_logname = logname, remote_user = user,
      log_ts = if (ts == TsNone) None
        else Some(new java.sql.Timestamp(Math.floorDiv(ts, 131072L) * 1000L)),
      tz_offset_sec = if (ts == TsNone) 0 else (Math.floorMod(ts, 131072L) - 64800L).toInt,
      method = method, path = uf.path, path1 = uf.p1, path2 = uf.p2, path3 = uf.p3,
      protocol = protocol, status = status, bytes_sent = atoi(bytes),
      referer = referer, ua = ua, malicious = uf.mal, format = fmt.name)
  }

  def parse(line: String, fmt: Format): Option[ParsedFields] = {
    def m(p: Pattern): Option[Matcher] = {
      val mm = p.matcher(line)
      if (mm.matches()) Some(mm) else None
    }
    fmt match {
      case ApacheCommon => m(reCommon).map { g =>
        build(fmt, "", g.group(1), g.group(2), g.group(3), g.group(4),
          g.group(5), g.group(6), g.group(7), g.group(8), g.group(9), None, None)
      }
      case ApacheCombined => m(reCombined).map { g =>
        build(fmt, "", g.group(1), g.group(2), g.group(3), g.group(4),
          g.group(5), g.group(6), g.group(7), g.group(8), g.group(9),
          Some(g.group(10)), Some(g.group(11)))
      }
      case ApacheVHostCombined => m(reVHost).map { g =>
        build(fmt, g.group(1), g.group(2), g.group(3), g.group(4), g.group(5),
          g.group(6), g.group(7), g.group(8), g.group(9), g.group(10),
          Some(g.group(11)), Some(g.group(12)))
      }
      case NginxCombined => m(reNginx).map { g =>
        build(fmt, "", g.group(1), "", g.group(2), g.group(3),
          g.group(4), g.group(5), g.group(6), g.group(7), g.group(8),
          Some(g.group(9)), Some(g.group(10)))
      }
      case NginxCustom => m(reNginxCustom).map { g =>
        // request_time/upstream_time (groups 11-12) captured then discarded
        // by the reference (httpservers.go:311-316)
        build(fmt, "", g.group(1), "", g.group(2), g.group(3),
          g.group(4), g.group(5), g.group(6), g.group(7), g.group(8),
          Some(g.group(9)), Some(g.group(10)))
      }
    }
  }

  /** Reference detection = last match over formatsInOrder (main.go:743-749)
    * = first match over the reversed list.
    */
  def detect(line: String): Option[Format] =
    formatsInOrder.reverseIterator.find(f => parse(line, f).isDefined)

  /** Per-row auto-detecting parse. On data where every line of a source uses
    * one format (our generator guarantees this) it is equivalent to the
    * reference's per-file sticky-parser memoization, minus the quirk that the
    * detection line itself is not emitted (main.go:744 shadowing) — that
    * quirk lives only in the oracle's quirk mode (RefOracle.stickyQuirk).
    *
    * Two tiers (r6): `fastParse` is a single structural scan that handles
    * the clean log-line shape with NO regex at all; anything it cannot
    * decide falls to `parseAutoRegex` — the r3-r5 pruned regex chain,
    * byte-identical semantics, kept as the completeness tier and the
    * property-test oracle for the scan.
    */
  def parseAuto(line: String): Option[ParsedFields] = {
    if (line.isEmpty) return None
    val f = fastParse(line)
    if (f != null) Some(f) else parseAutoRegex(line)
  }

  /** The pre-r6 regex-chain parse (structural pruning per VERDICT r3 item 6):
    * reversed reference order minus provably-impossible candidates —
    *  - nginx formats demand a literal "-" second field (`^(\S+) - `)
    *  - combined/vhost/nginx-combined anchor on a trailing `"`
    *  - common anchors on trailing bytes digits (`(\d+)$`)
    * A last-success MEMO (the reference's per-file shape, main.go:728-751)
    * was considered and rejected: apache_combined lines with logname "-"
    * also match the nginx grammar, so a memo would reclassify them relative
    * to the per-line last-match-wins rule this engine (and its oracle) pins.
    */
  private[parse] def parseAutoRegex(line: String): Option[ParsedFields] = {
    if (line.isEmpty) return None
    val lastCh = line.charAt(line.length - 1)
    val endsQuote = lastCh == '"'
    val endsDigit = lastCh >= '0' && lastCh <= '9'
    val sp1 = line.indexOf(' ')
    val dash2nd = sp1 >= 0 && sp1 + 2 < line.length &&
      line.charAt(sp1 + 1) == '-' && line.charAt(sp1 + 2) == ' '
    // reversed reference order, minus the provably-impossible candidates
    if (dash2nd) {
      val r = parse(line, NginxCustom)
      if (r.isDefined) return r
      if (endsQuote) {
        val r2 = parse(line, NginxCombined)
        if (r2.isDefined) return r2
      }
    }
    if (endsQuote) {
      val r = parse(line, ApacheVHostCombined)
      if (r.isDefined) return r
      val r2 = parse(line, ApacheCombined)
      if (r2.isDefined) return r2
    }
    if (endsDigit) {
      val r = parse(line, ApacheCommon)
      if (r.isDefined) return r
    }
    None
  }

  /** Single-scan structural parse of the CLEAN log-line shape — the shape
    * every real access-log line has:
    *
    *   t1 t2 t3 [t4] [TS] "METHOD URI PROTO" STATUS BYTES ["REF" "UA" [q1 q2]]
    *
    * where the leading tokens contain no '[' ']' '"', the bracket holds no
    * '[' '"', the request tokens hold no '"', STATUS/BYTES are all-digits,
    * and the line holds exactly 2 or 6 quote characters in total.
    *
    * Under those constraints every boundary the five anchored regexes could
    * choose is FORCED: `(\S+)` groups cannot span the literal separator
    * spaces, the pattern's literal quotes must consume the line's quotes in
    * order (the captures are quote-free, and `[^"]*` cannot hold one), and
    * the single token-initial '[' is the only place ` \[` can anchor — so
    * the scan's captures are exactly the regex captures, and the
    * (token-count, dash-second-field, tail-shape) triple picks the same
    * format the last-match-wins chain picks. Any line off the clean shape
    * returns null and falls back to parseAutoRegex — the fast tier never
    * *rejects* a line, it only accepts ones whose regex parse is forced.
    * Equivalence with parseAutoRegex is property-pinned in LineParserSpec
    * (pool lines + adversarial fuzz).
    *
    * Why: java.util.regex `matches()` with 9-12 capture groups dominated
    * per-line cost (single-threaded profile, BENCH.md round 6); the scan
    * replaces it with one branchy pass and eight substrings.
    *
    * @return the ParsedFields on a decided clean-shape match, null = bail
    */
  private[parse] def fastParse(line: String): ParsedFields = {
    val len = line.length
    // pass 1: any regex-\s whitespace other than ' ' bails (those chars are
    // separators for \s yet non-tokens for \S — let the regexes decide);
    // count quotes for the forced-alignment argument
    var quotes = 0
    var i = 0
    while (i < len) {
      val c = line.charAt(i)
      if (c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r') return null
      if (c == '"') quotes += 1
      i += 1
    }
    if (quotes != 2 && quotes != 6) return null

    // leading tokens (3 or 4), single-space separated, none containing
    // '[' ']' '"'; then a token-initial '[' opens the timestamp bracket
    val tokS = new Array[Int](4)
    val tokE = new Array[Int](4)
    var k = 0
    var pos = 0
    var bracketOpen = -1
    while (bracketOpen < 0) {
      if (pos >= len) return null
      if (line.charAt(pos) == '[') {
        if (k < 3) return null // '[' this early fits no format cleanly
        bracketOpen = pos
      } else {
        if (k == 4) return null // 5+ leading tokens fit no format
        val start = pos
        var bad = false
        while (pos < len && line.charAt(pos) != ' ') {
          val c = line.charAt(pos)
          if (c == '[' || c == ']' || c == '"') bad = true
          pos += 1
        }
        if (bad || pos == start || pos >= len) return null
        tokS(k) = start; tokE(k) = pos
        k += 1
        pos += 1 // the single separator space
      }
    }

    // bracket: content up to the next ']', non-empty, no '[' or '"' inside;
    // then exactly ` "` after the close
    var p = bracketOpen + 1
    var close = -1
    while (close < 0) {
      if (p >= len) return null
      val c = line.charAt(p)
      if (c == ']') close = p
      else if (c == '"' || c == '[') return null
      else p += 1
    }
    if (close == bracketOpen + 1) return null
    if (close + 2 >= len || line.charAt(close + 1) != ' ' || line.charAt(close + 2) != '"') return null

    // request: exactly three nonempty space-separated tokens inside quotes
    val r0 = close + 2
    var q = r0 + 1
    var sp = 0
    var s1 = -1
    var s2 = -1
    var rClose = -1
    while (rClose < 0) {
      if (q >= len) return null
      val c = line.charAt(q)
      if (c == '"') rClose = q
      else {
        if (c == ' ') {
          sp += 1
          if (sp == 1) s1 = q else if (sp == 2) s2 = q else return null
        }
        q += 1
      }
    }
    if (sp != 2 || s1 == r0 + 1 || s2 == s1 + 1 || rClose == s2 + 1) return null

    // status + bytes: ' ' digits ' ' digits
    var d = rClose + 1
    if (d >= len || line.charAt(d) != ' ') return null
    d += 1
    val st0 = d
    while (d < len && line.charAt(d) >= '0' && line.charAt(d) <= '9') d += 1
    if (d == st0) return null
    val st1 = d
    if (d == len) return null // no bytes field fits no format
    if (line.charAt(d) != ' ') return null
    d += 1
    val by0 = d
    while (d < len && line.charAt(d) >= '0' && line.charAt(d) <= '9') d += 1
    if (d == by0) return null
    val by1 = d

    val dash2 = tokE(1) - tokS(1) == 1 && line.charAt(tokS(1)) == '-'
    def tok(n: Int) = line.substring(tokS(n), tokE(n))
    def buildClean(fmt: Format, domain: String, ip: String, logname: String, user: String,
        ref: String, ua: String): ParsedFields =
      build(fmt, domain, ip, logname, user,
        line.substring(bracketOpen + 1, close),
        line.substring(r0 + 1, s1), line.substring(s1 + 1, s2), line.substring(s2 + 1, rClose),
        line.substring(st0, st1), line.substring(by0, by1),
        Option(ref), Option(ua))

    if (by1 == len) {
      // ends at bytes: only apache_common's `(\d+)$` anchors here
      if (quotes != 2 || k != 3) return null
      return buildClean(ApacheCommon, "", tok(0), tok(1), tok(2), null, null)
    }

    // referer + ua: ` "..." "..."` (quote positions forced by total count 6)
    if (quotes != 6) return null
    if (line.charAt(by1) != ' ' || by1 + 1 >= len || line.charAt(by1 + 1) != '"') return null
    val f0 = by1 + 1
    val f1 = line.indexOf('"', f0 + 1)
    if (f1 < 0 || f1 + 2 >= len || line.charAt(f1 + 1) != ' ' || line.charAt(f1 + 2) != '"') return null
    val u0 = f1 + 2
    val u1 = line.indexOf('"', u0 + 1)
    if (u1 < 0) return null
    val ref = line.substring(f0 + 1, f1)
    val ua = line.substring(u0 + 1, u1)

    if (u1 + 1 == len) {
      // ends at the final quote: nginx_combined (dash) beats combined by the
      // last-match-wins order; vhost is the unique 4-token shape
      if (k == 3 && dash2) return buildClean(NginxCombined, "", tok(0), "", tok(2), ref, ua)
      if (k == 3) return buildClean(ApacheCombined, "", tok(0), tok(1), tok(2), ref, ua)
      return buildClean(ApacheVHostCombined, tok(0), tok(1), tok(2), tok(3), ref, ua)
    }

    // trailing ` q1 q2`: nginx_custom only (timings captured then discarded)
    if (!(k == 3 && dash2)) return null
    var t = u1 + 1
    if (line.charAt(t) != ' ') return null
    t += 1
    val x0 = t
    while (t < len && line.charAt(t) != ' ') t += 1
    if (t == x0 || t >= len) return null
    t += 1
    val y0 = t
    while (t < len && line.charAt(t) != ' ') t += 1
    if (t == y0 || t < len) return null
    buildClean(NginxCustom, "", tok(0), "", tok(2), ref, ua)
  }
}
