package graft.parse

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.oracle.RefOracle
import graft.sources.{Tables, TranscriptGen}

/** Property-based tests (SURVEY.md §5.3) — pure, no Spark session:
  * render∘parse identity, aggregate-sum invariants, arrival-order
  * insensitivity of the batch aggregates under bounded lateness.
  */
object ParseProps extends Properties("graft.parse") {

  private val genIndex: Gen[Long] = Gen.chooseNum(0L, 59999L)
  private val lay = TranscriptGen.layout(60000L)

  property("every generated turn parses and round-trips its rendered fields") =
    forAll(genIndex) { i =>
      val t = TranscriptGen.turn(i, lay)
      LineParser.parseAuto(t.text) match {
        case None => Prop.falsified :| s"unparseable: ${t.text}"
        case Some(p) =>
          val tsOk = p.log_ts.exists(ts => math.abs(ts.getTime - t.ts.getTime) < 1000)
          val statusOk = p.status.nonEmpty && p.status.forall(_.isDigit)
          val bytesOk = p.bytes_sent >= 1 && p.bytes_sent <= 50000
          (Prop(tsOk) :| "timestamp round-trip") &&
            (Prop(statusOk) :| "status") && (Prop(bytesOk) :| "bytes")
      }
    }

  property("detection is stable: re-parsing with the detected format gives the same result") =
    forAll(genIndex) { i =>
      val line = TranscriptGen.turn(i, lay).text
      val auto = LineParser.parseAuto(line)
      val redo = LineParser.detect(line).flatMap(f => LineParser.parse(line, f))
      auto == redo
    }

  /** the unpruned reversed-order scan — the spec-reference parseAuto */
  private def parseAutoNaive(line: String): Option[graft.model.ParsedFields] = {
    if (line.isEmpty) return None
    LineParser.formatsInOrder.reverseIterator
      .map(f => LineParser.parse(line, f)).collectFirst { case Some(r) => r }
  }

  property("structural pruning in parseAuto is exact: identical to the full reversed scan") = {
    // generator lines cover all 5 formats incl. the dash-logname apache
    // lines that also match the nginx grammar (the logname trap)
    val genLine: Gen[String] = genIndex.map(i => TranscriptGen.turn(i, lay).text)
    // plus adversarial shapes around the pruning anchors
    val crafted = Gen.oneOf(
      """1.2.3.4 - - [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1""",
      """1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua"""",
      """1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua" 0.1 0.2""",
      """d.com 1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua"""",
      """1.2.3.4 frank u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1""",
      "-", "- ", " - ", "\"", "9", "a b c", "",
      """1.2.3.4 - u [ts] "GET / H" 200 1 "r" "ua" 0.1 "x"""")
    forAll(Gen.frequency(3 -> genLine, 1 -> crafted)) { line =>
      LineParser.parseAuto(line) == parseAutoNaive(line)
    }
  }

  // ---------------------------------------------------------------- r6 fast tier
  property("fastParse decides every generated line, identically to the regex tier") =
    forAll(genIndex) { i =>
      val line = TranscriptGen.turn(i, lay).text
      val fast = Option(LineParser.fastParse(line))
      val slow = LineParser.parseAutoRegex(line)
      (Prop(fast.isDefined) :| "clean generator line must not bail") &&
        (Prop(fast == slow) :| s"fast=$fast slow=$slow line=$line")
    }

  /** adversarial line soup: fragments with quotes, brackets, dashes, digits,
    * doubled/odd spacing, tabs — everything the clean-shape scanner keys on
    */
  private val genSoupLine: Gen[String] = {
    val frag = Gen.oneOf(
      "1.2.3.4", "-", "u", "frank", "[02/Jan/2006:15:04:05 +0000]",
      "[ts with space]", "[]", "[x", "x]", "\"GET / HTTP/1.1\"", "\"GET /\"",
      "\"GET  / HTTP/1.1\"", "\"G\"ET\"", "200", "12", "0", "a1b", "\"r\"",
      "\"\"", "\"r with [brackets] inside\"", "\"ua (x; y)\"", "0.15",
      "\"", "[", "]", "q\"q", "d.com", "\t", "GET", "200x", "x200")
    for {
      k <- Gen.chooseNum(0, 14)
      parts <- Gen.listOfN(k, frag)
      sep <- Gen.oneOf(" ", " ", " ", "  ", "")
    } yield parts.mkString(sep)
  }

  property("fast tier dispatch == pure regex chain on adversarial line soup") =
    forAll(Gen.frequency(2 -> genSoupLine,
      1 -> genIndex.map(i => TranscriptGen.turn(i, lay).text))) { line =>
      val now = LineParser.parseAuto(line)
      val regex = LineParser.parseAutoRegex(line)
      Prop(now == regex) :| s"line=<$line> fast-dispatch=$now regex=$regex"
    }

  property("tsEpochOff == parseTimestamp (packed epoch + offset) on structured + fuzzed inputs") = {
    val genTs: Gen[String] = for {
      day <- Gen.chooseNum(0, 39)
      mon <- Gen.oneOf("Jan", "Feb", "MAR", "apr", "May", "Jun", "Jul",
        "Aug", "Sep", "Oct", "Nov", "Dec", "Xyz", "J0n")
      year <- Gen.oneOf(0, 1, 1900, 1999, 2000, 2024, 2025, 2100, 9999)
      hh <- Gen.chooseNum(0, 30)
      mm <- Gen.chooseNum(0, 70)
      ss <- Gen.chooseNum(0, 70)
      sign <- Gen.oneOf("+", "-")
      offH <- Gen.chooseNum(0, 99)
      offM <- Gen.chooseNum(0, 99)
    } yield f"$day%02d/$mon/$year%04d:$hh%02d:$mm%02d:$ss%02d $sign$offH%02d$offM%02d"
    val genJunk = Gen.oneOf("", "02/Jan/2006", "garbage", "02/Jan/2006:15:04:05 0000",
      "2/Jan/2006:15:04:05 +0000", "02/Jan/2006:15:04:05  +0000")
    forAll(Gen.frequency(5 -> genTs, 1 -> genJunk)) { s =>
      val packed = LineParser.tsEpochOff(s)
      val viaOdt = LineParser.parseTimestamp(s)
      val unpacked =
        if (packed == LineParser.TsNone) None
        else Some((Math.floorDiv(packed, 131072L), (Math.floorMod(packed, 131072L) - 64800L).toInt))
      val expected = viaOdt.map(o => (o.toEpochSecond, o.getOffset.getTotalSeconds))
      Prop(unpacked == expected) :| s"ts=<$s> packed=$unpacked odt=$expected"
    }
  }

  property("tsEpochOff == parseTimestamp for years of up to 19 digits, TsNone past the packed range") = {
    // the strict formatter takes 4-19 year digits, signed past 4;
    // OffsetDateTime holds years up to ±999,999,999, but the packed
    // epochSec * 131072 only reaches about year ±2.2 million
    val genYear = for {
      sign <- Gen.oneOf("", "+", "-")
      n <- Gen.chooseNum(1, 19)
      digits <- Gen.listOfN(n, Gen.numChar)
    } yield sign + digits.mkString
    val genTs = for {
      year <- Gen.frequency(3 -> genYear,
        1 -> Gen.oneOf("+2229999", "+2230000", "+999999999", "-999999999", "+1000000000"))
      sign <- Gen.oneOf("+", "-")
      offH <- Gen.chooseNum(0, 18)
    } yield f"31/Dec/$year:23:59:59 $sign$offH%02d00"
    forAll(genTs) { s =>
      val packed = LineParser.tsEpochOff(s)
      val unpacked =
        if (packed == LineParser.TsNone) None
        else Some((Math.floorDiv(packed, 131072L), (Math.floorMod(packed, 131072L) - 64800L).toInt))
      val representable = (o: java.time.OffsetDateTime) =>
        (BigInt(o.toEpochSecond) * 131072 + (o.getOffset.getTotalSeconds + 64800)).isValidLong
      val expected = LineParser.parseTimestamp(s).filter(representable)
        .map(o => (o.toEpochSecond, o.getOffset.getTotalSeconds))
      Prop(unpacked == expected) :| s"ts=<$s> packed=$unpacked odt=$expected"
    }
  }

  property("uriFields memo == pathFields + utm regex for pool and fuzzed URIs") = {
    val genUri = Gen.frequency(
      3 -> Gen.oneOf(TranscriptGen.benignPaths ++ TranscriptGen.queryPaths ++
        TranscriptGen.maliciousPaths),
      1 -> Gen.listOf(Gen.oneOf("/a", "/", "?", "&", "utm_source=x", "%zz", "%00",
        "..", "'", "<script>", "a", ":", "//h:80")).map(_.mkString))
    forAll(genUri) { uri =>
      val uf = LineParser.uriFields(uri)
      val (path, p1, p2, p3, mal) = LineParser.pathFields(uri)
      val m = java.util.regex.Pattern.compile("(\\?|&)utm_source=([^&]+)(&|\\z)").matcher(uri)
      val utm = if (m.find()) m.group(2) else null
      uf == LineParser.UriFields(path, p1, p2, p3, mal, utm)
    }
  }

  property("keyed counts sum to the total for every dimension") =
    forAll(Gen.chooseNum(50, 400)) { n =>
      val parsed = RefOracle.parseAll(Tables.localTurns(n.toLong)).map(_._2)
      val totals = RefOracle.counterTotals(parsed)
      RefOracle.keyedCounts(parsed).forall { case (_, m) =>
        m.values.sum == totals.handledEntries
      }
    }

  property("metric REQ_COUNT sums to the number of parsed entries (bounded lateness)") =
    forAll(Gen.chooseNum(50, 400)) { n =>
      val turns = Tables.localTurns(n.toLong)
      val parsedCount = RefOracle.parseAll(turns).size
      val reqTotal = RefOracle.metricRows(turns)
        .filter(_.metric_type == graft.model.MetricType.ReqCount)
        .map(_.metric_value).sum
      reqTotal == parsedCount
    }

  property("unescapePath inverts percent-encoding for ASCII strings") = {
    val asciiGen = Gen.listOf(Gen.choose(33.toChar, 126.toChar)).map(_.mkString)
    forAll(asciiGen) { s =>
      val escaped = s.flatMap {
        case c if c.isLetterOrDigit || c == '/' => c.toString
        case c => f"%%${c.toInt}%02X"
      }
      GoUrl.unescapePath(escaped).contains(s)
    }
  }

  property("shingleHashes == fnv1a over joined token n-grams (r6 allocation-free form)") = {
    val textGen = Gen.listOf(Gen.oneOf("Spark", "data", "ROW", "agg,", "a", "1x9",
      "!!", "b2", " ", "join-key", "Ω")).map(_.mkString(" "))
    forAll(textGen) { text =>
      val toks = graft.operators.Dedup.tokenize(text)
      val viaStrings =
        if (toks.length < 3) Array(graft.operators.Dedup.fnv1a(toks.mkString(" ")))
        else Array.tabulate(toks.length - 3 + 1)(i =>
          graft.operators.Dedup.fnv1a(toks.slice(i, i + 3).mkString(" ")))
      graft.operators.Dedup.shingleHashes(text).toSeq == viaStrings.toSeq &&
        toks.toSeq == text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    }
  }

  property("jaccard is symmetric, reflexive, bounded") = {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("spark", "data", "row", "agg", "scan",
      "join", "key", "window", "batch", "merge")).map(_.mkString(" "))
    forAll(textGen, textGen) { (a, b) =>
      val jab = graft.operators.Dedup.jaccard(a, b)
      val jba = graft.operators.Dedup.jaccard(b, a)
      jab == jba && jab >= 0.0 && jab <= 1.0 &&
        graft.operators.Dedup.jaccard(a, a) == 1.0
    }
  }

  property("jaccardSorted == set jaccard for arbitrary texts (bitwise)") = {
    val textGen = Gen.listOf(Gen.oneOf("spark", "data", "row", "agg", "scan",
      "join", "key", "window", "batch", "merge", "a", "b")).map(_.mkString(" "))
    forAll(textGen, textGen) { (a, b) =>
      val viaSets = graft.operators.Dedup.jaccard(a, b)
      val viaArrays = graft.operators.Dedup.jaccardSorted(
        graft.operators.Dedup.sortedShingles(a), graft.operators.Dedup.sortedShingles(b))
      java.lang.Double.doubleToRawLongBits(viaSets) ==
        java.lang.Double.doubleToRawLongBits(viaArrays)
    }
  }

  property("time window floors to the configured size in the event's own offset") =
    forAll(Gen.chooseNum(0L, 4102444800L), Gen.oneOf(1, 5, 10, 15, 30, 60),
      Gen.oneOf(-43200, -25200, 0, 3600, 19800)) { (epoch, w, off) =>
      val odt = java.time.Instant.ofEpochSecond(epoch)
        .atOffset(java.time.ZoneOffset.ofTotalSeconds(off))
      val p = graft.model.ParsedFields("", "", "", "",
        Some(java.sql.Timestamp.from(odt.toInstant)), off,
        "", "", "", "", "", "", "200", 0L, "", None, 0, "")
      val tw = RefOracle.timeWindow(p, w)
      val minutePart = (tw % 100).toInt
      minutePart % w == 0 && minutePart < 60 && tw > 0
    }
}
