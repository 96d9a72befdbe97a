package graft.parse

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Malicious

/** Parser parity tests ported from logparsers/httpservers_test.go plus the
  * format-detection quirks (main.go:743-749) and Go-URL edge cases.
  */
class LineParserSpec extends AnyFunSuite {
  import LineParser._

  test("apache common log format (httpservers_test.go:27-101)") {
    val line = """127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /p1/p2/p3/apache_pb.gif HTTP/1.0" 200 2326"""
    val p = parse(line, ApacheCommon).get
    assert(p.client_ip == "127.0.0.1")
    assert(p.remote_logname == "-")
    assert(p.remote_user == "frank")
    assert(p.method == "GET")
    assert(p.path == "/p1/p2/p3/apache_pb.gif")
    assert(p.path1 == "/p1")
    assert(p.path2 == "/p1/p2")
    assert(p.path3 == "/p1/p2/p3")
    assert(p.protocol == "HTTP/1.0")
    assert(p.status == "200")
    assert(p.bytes_sent == 2326L)
    assert(p.ua.isEmpty) // reference leaves UserAgent nil for CLF
    assert(p.tz_offset_sec == -7 * 3600)
    // instant equality: 2000-10-10T13:55:36-07:00 == 20:55:36Z
    assert(p.log_ts.get.toInstant.toString == "2000-10-10T20:55:36Z")
  }

  test("nginx combined (httpservers_test.go:117-150)") {
    val line = """127.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 612 "-" "Mozilla/5.0 (Macintosh)""""
    val p = parse(line, NginxCombined).get
    assert(p.bytes_sent == 612 && p.client_ip == "127.0.0.1" && p.method == "GET")
    assert(p.path == "/" && p.protocol == "HTTP/1.1" && p.status == "200")
    assert(p.referer == "") // "-" parses to empty hostname
    assert(p.ua.get.ua_family == "Other" && p.ua.get.ua_os == "MacOS")
  }

  test("nginx combined with referer (httpservers_test.go:153-203)") {
    val line = """127.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 612 "https://example.com/somepage" "Mozilla/5.0 (Macintosh)""""
    assert(parse(line, NginxCombined).get.referer == "example.com")
  }

  test("utm_source overrides referer (httpservers_test.go:206-229)") {
    val line = """127.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET /?a=b&utm_source=justexample HTTP/1.1" 200 612 "https://example.com/somepage" "Mozilla/5.0 (Macintosh)""""
    val p = parse(line, NginxCombined).get
    assert(p.referer == "justexample")
    assert(p.path == "/")
  }

  test("utm_source requires ? or & prefix (httpservers_test.go:290-312)") {
    val l1 = """149.102.254.35 - - [23/May/2025:03:53:41 +0000] "GET /wp-content/plugins/helloapx/wp-apxupx.php?apx=upx&AAAutm_source=google HTTP/1.1" 301 549 "http://casualgames.dev/wp-content/plugins/helloapx/wp-apxupx.php?apx=upx" "Go-http-client/1.1""""
    assert(parse(l1, ApacheCombined).get.referer == "casualgames.dev")
    val l2 = """149.102.254.35 - - [23/May/2025:03:53:41 +0000] "GET /wp-content/plugins/helloapx/wp-apxupx.php?apx=upx&utm_source=google&otherparam=1 HTTP/1.1" 301 549 "http://casualgames.dev/wp-content/plugins/helloapx/wp-apxupx.php?apx=upx" "Go-http-client/1.1""""
    assert(parse(l2, ApacheCombined).get.referer == "google")
  }

  test("www. referer prefix is stripped") {
    val line = """1.2.3.4 - - [10/Oct/2000:13:55:36 +0000] "GET / HTTP/1.1" 200 10 "http://www.example.com/start.html" "curl/8.0""""
    assert(parse(line, NginxCombined).get.referer == "example.com")
  }

  test("vhost combined sets domain") {
    val line = """example.com:80 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)""""
    val p = parse(line, ApacheVHostCombined).get
    assert(p.domain == "example.com:80")
    assert(p.client_ip == "127.0.0.1")
    assert(p.referer == "example.com")
  }

  test("nginx custom discards request/upstream time") {
    val line = """127.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 612 "-" "Mozilla/5.0" 0.123 0.456"""
    val p = parse(line, NginxCustom).get
    assert(p.path == "/" && p.status == "200")
  }

  test("detection: last match wins — apache combined with '-' logname is nginx (P5 trap)") {
    val line = """127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 612 "-" "curl/8.0""""
    assert(detect(line).contains(NginxCombined))
    // nginx parse maps group 2 to remote_user, logname stays ""
    val p = parseAuto(line).get
    assert(p.remote_user == "frank" && p.remote_logname == "")
  }

  test("detection: apache combined with a real logname stays apache") {
    val line = """127.0.0.1 ident1 frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 612 "-" "curl/8.0""""
    assert(detect(line).contains(ApacheCombined))
    assert(parseAuto(line).get.remote_logname == "ident1")
  }

  test("detection order on every format") {
    assert(detect("""1.1.1.1 - u [10/Oct/2000:13:55:36 +0000] "GET / HTTP/1.1" 200 5""").contains(ApacheCommon))
    assert(detect("""d.com 1.1.1.1 l u [10/Oct/2000:13:55:36 +0000] "GET / HTTP/1.1" 200 5 "-" "x y"""").contains(ApacheVHostCombined))
    assert(detect("""1.1.1.1 - u [10/Oct/2000:13:55:36 +0000] "GET / HTTP/1.1" 200 5 "-" "x y" 0.1 0.2""").contains(NginxCustom))
    assert(detect("not a log line").isEmpty)
  }

  test("malicious: traversal via /../ and %00") {
    val p1 = LineParser.pathFields("/files/../../etc/passwd")
    assert(p1._5 == Malicious.Traversal)
    assert(p1._2 == "/files" && p1._3 == "/files/.." && p1._4 == "/files/../..")
    assert(LineParser.pathFields("/download?file=%00evil")._5 == Malicious.Traversal)
  }

  test("malicious: xss before sqlinj, on raw query only") {
    assert(LineParser.pathFields("/c?text=<script>x</script>")._5 == Malicious.Xss)
    assert(LineParser.pathFields("/c?cb=onmouseover")._5 == Malicious.Xss)
    assert(LineParser.pathFields("/i?id='1%20insert%20into")._5 == Malicious.SqlInj)
    assert(LineParser.pathFields("/i?id=1")._5 == Malicious.Unknown)
    // 'alert' in the PATH is not malicious (query-only check)
    assert(LineParser.pathFields("/alert/page")._5 == Malicious.Unknown)
  }

  test("malicious: invalid URI keeps raw path cut at '?' and skips splits") {
    val (path, p1, p2, p3, mal) = LineParser.pathFields("/bad%zzpath?x=1")
    assert(mal == Malicious.Invalid)
    assert(path == "/bad%zzpath")
    assert(p1 == "" && p2 == "" && p3 == "")
    // non-absolute request path is a Go error too
    assert(LineParser.pathFields("badpath")._5 == Malicious.Invalid)
  }

  test("path split edges match Go strings.Split") {
    val root = LineParser.pathFields("/")
    assert(root._1 == "/" && root._2 == "/" && root._3 == "" && root._4 == "")
    val one = LineParser.pathFields("/a")
    assert(one._2 == "/a" && one._3 == "")
    val trailing = LineParser.pathFields("/a/")
    assert(trailing._2 == "/a" && trailing._3 == "/a/")
    // percent-decoding applies to the path (Go url.Path is decoded)
    val dec = LineParser.pathFields("/a%2Fb/c")
    assert(dec._1 == "/a/b/c")
  }

  test("absolute URI request target parses like Go (authority skipped)") {
    val (path, p1, _, _, mal) = LineParser.pathFields("http://evil.com/a/b?q=1")
    assert(mal == Malicious.Unknown && path == "/a/b" && p1 == "/a")
    // opaque URI: empty path, no error
    assert(LineParser.pathFields("mailto:x@y.com")._1 == "")
    // '*' request target
    assert(LineParser.pathFields("*")._2 == "/")
  }

  test("timestamp: strict layout, zone offsets, errors → None") {
    assert(parseTimestamp("10/Oct/2000:13:55:36 -0700").get.getOffset.getTotalSeconds == -25200)
    assert(parseTimestamp("23/May/2025:03:53:41 +0000").get.toInstant.toString == "2025-05-23T03:53:41Z")
    assert(parseTimestamp("10/Oct/2000:13:55:36").isEmpty)
    assert(parseTimestamp("32/Oct/2000:13:55:36 +0000").isEmpty)
    assert(parseTimestamp("5/Oct/2000:13:55:36 +0000").isEmpty) // Go "02" needs 2 digits
    // Go time.Parse folds month-name case per byte: OCT/oct/oCt all parse
    assert(parseTimestamp("10/OCT/2000:13:55:36 -0700") == parseTimestamp("10/Oct/2000:13:55:36 -0700"))
    assert(parseTimestamp("10/oct/2000:13:55:36 -0700").nonEmpty)
    assert(parseTimestamp("10/oCt/2000:13:55:36 -0700").nonEmpty)
  }

  test("timestamp: a non-ASCII month name does not parse (Go folds case ASCII-only)") {
    // 'ſ' (U+017F) uppercases to 'S' in Java, so a Unicode case fold reads
    // Sep: on the packed fast path and in the formatter (a 5-digit year)
    assert(parseTimestamp("10/Sep/+10000:13:55:36 +0000").nonEmpty)
    for (ts <- Seq("10/ſep/2000:13:55:36 +0000", "10/ſep/+10000:13:55:36 +0000")) {
      assert(tsEpochOff(ts) == TsNone, ts)
      assert(parseTimestamp(ts).isEmpty, ts)
    }
    val line = """1.2.3.4 - - [10/ſep/2000:13:55:36 +0000] "GET / HTTP/1.1" 200 10 "-" "curl/8.5.0""""
    assert(parseAuto(line).get.log_ts.isEmpty)
  }

  test("robots.txt override applied through full parse") {
    val line = """1.2.3.4 - - [10/Oct/2000:13:55:36 +0000] "GET /robots.txt HTTP/1.1" 200 10 "-" "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/136.0.0.0 Safari/537.36""""
    val p = parseAuto(line).get
    assert(p.ua.get.ua_family == "OtherBot" && p.ua.get.ua_human == "NonHuman")
  }

  // ------------------------------------------------------------ r6 fast tier
  test("tsEpochOff agrees with parseTimestamp on every 4-digit-year date sweep") {
    // all (year-class, month, day 27-32) boundaries: leap rules + month
    // lengths + both packers on valid AND invalid day-of-month
    for (y <- Seq(1, 1900, 1996, 2000, 2023, 2024, 2100, 9999);
         m <- 1 to 12; d <- 27 to 32) {
      val mon = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
        "Sep", "Oct", "Nov", "Dec")(m - 1)
      val s = f"$d%02d/$mon/$y%04d:23:59:59 +0530"
      val packed = LineParser.tsEpochOff(s)
      val viaOdt = LineParser.parseTimestamp(s)
      val unpacked =
        if (packed == LineParser.TsNone) None
        else Some((Math.floorDiv(packed, 131072L), (Math.floorMod(packed, 131072L) - 64800L).toInt))
      assert(unpacked == viaOdt.map(o => (o.toEpochSecond, o.getOffset.getTotalSeconds)), s)
    }
    // the ZoneOffset 18h bound, both sides
    assert(LineParser.tsEpochOff("10/Oct/2000:13:55:36 +1800") != LineParser.TsNone)
    assert(LineParser.tsEpochOff("10/Oct/2000:13:55:36 +1801") == LineParser.TsNone)
    assert(LineParser.parseTimestamp("10/Oct/2000:13:55:36 +1801").isEmpty)
    // non-ASCII month chars must not alias a valid month through the packed
    // int ('H', U+0261, 'n' packs to the 'Jan' value — code-review r6)
    val aliased = "01/Hɡn/2000:00:00:00 +0000"
    assert(LineParser.tsEpochOff(aliased) == LineParser.TsNone)
    assert(LineParser.parseTimestamp(aliased).isEmpty)
  }

  test("fastParse handles the reference fixture lines identically to the regex tier") {
    val lines = Seq(
      """127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /p1/p2/p3/apache_pb.gif HTTP/1.0" 200 2326""",
      """127.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 612 "-" "Mozilla/5.0 (Macintosh)"""",
      """example.com:80 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"""",
      """1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua" 0.1 0.2""",
      """149.102.254.35 - - [23/May/2025:03:53:41 +0000] "GET /wp-content/plugins/helloapx/wp-apxupx.php?apx=upx&utm_source=google&otherparam=1 HTTP/1.1" 301 549 "http://casualgames.dev/wp-content/plugins/helloapx/wp-apxupx.php?apx=upx" "Go-http-client/1.1"""")
    lines.foreach { l =>
      val fast = Option(LineParser.fastParse(l))
      assert(fast.isDefined, s"fast tier must decide: $l")
      assert(fast == LineParser.parseAutoRegex(l), l)
    }
    // unclean shapes bail (null) and the dispatch still answers via regex
    val unclean = Seq(
      "1.2.3.4 -\tu [t] \"G / H\" 1 2", // tab
      """1.2.3.4 - u [t "x"] "G / H" 1 2""", // quote in bracket
      """1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "u"a"""") // 7 quotes
    unclean.foreach { l =>
      assert(LineParser.fastParse(l) == null, s"must bail: $l")
      assert(LineParser.parseAuto(l) == LineParser.parseAutoRegex(l), l)
    }
  }
}
