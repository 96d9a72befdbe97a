package graft.parse

import org.scalatest.funsuite.AnyFunSuite

/** The 19 active reference test cases, ported verbatim
  * (logparsers/useragent_test.go:121-661).
  */
class UserAgentsSpec extends AnyFunSuite {

  private def check(ua: String, device: String, family: String, human: String,
      os: String, intent: Option[String] = None): Unit = {
    val r = UserAgents.classify(ua)
    assert(r.ua_device_type == device, s"device for $ua")
    assert(r.ua_family == family, s"family for $ua")
    assert(r.ua_human == human, s"human for $ua")
    assert(r.ua_os == os, s"os for $ua")
    assert(r.ua_full == ua, "full name")
    intent.foreach(i => assert(r.ua_intent == i, s"intent for $ua"))
  }

  test("iPhone CriOS") {
    check(
      "Mozilla/5.0 (iPhone; CPU iPhone OS 17_7_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/137.0.7151.51 Mobile/15E148 Safari/604.1",
      "Mobile", "Chrome", "Unknown", "IOS")
  }
  test("GPTBot") {
    check(
      "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); compatible; GPTBot/1.1; +https://openai.com/gptbot",
      "Script", "AIBot", "NonHuman", "Other")
  }
  test("Chrome macOS") {
    check(
      "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/136.0.0.0 Safari/537.36",
      "Desktop", "Chrome", "Unknown", "MacOS")
  }
  test("Edge") {
    check(
      "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36 Edg/91.0.864.59",
      "Desktop", "Edge", "Unknown", "Windows")
  }
  test("Safari macOS") {
    check(
      "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/18.3.1 Safari/605.1.15",
      "Desktop", "Safari", "Unknown", "MacOS")
  }
  test("Firefox macOS") {
    check(
      "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:138.0) Gecko/20100101 Firefox/138.0",
      "Desktop", "Firefox", "Unknown", "MacOS")
  }
  test("Safari iOS") {
    check(
      "Mozilla/5.0 (iPhone; CPU iPhone OS 17_7_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/18.4 Mobile/15E148 Safari/604.1",
      "Mobile", "Safari", "Unknown", "IOS")
  }
  test("CriOS") {
    check(
      "Mozilla/5.0 (iPhone; CPU iPhone OS 17_7_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/137.0.7151.51 Mobile/15E148 Safari/604.1",
      "Mobile", "Chrome", "Unknown", "IOS")
  }
  test("Android Chrome") {
    check(
      "Mozilla/5.0 (Linux; Android 15) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/136.0.7103.127 Mobile Safari/537.36",
      "Mobile", "Chrome", "Unknown", "Android")
  }
  test("Googlebot") {
    check(
      "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
      "Script", "SearchBot", "NonHuman", "Other")
  }
  test("Googlebot mobile") {
    check(
      "Mozilla/5.0 (Linux; Android 6.0.1; Nexus 5X Build/MMB29P) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/W.X.Y.Z Mobile Safari/537.36 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
      "Script", "SearchBot", "NonHuman", "Other")
  }
  test("AhrefsBot") {
    check(
      "Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
      "Script", "SEOBot", "NonHuman", "Other")
  }
  test("Bytespider") {
    check(
      "Mozilla/5.0 (Linux; Android 8.0; Pixel 2 Build/OPD3.170816.012) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/56.0.1511.1269 Mobile Safari/537.36; Bytespider",
      "Script", "SocialBot", "NonHuman", "Other")
  }
  test("Bytespider 2") {
    check(
      "Mozilla/5.0 (Linux; Android 5.0) AppleWebKit/537.36 (KHTML, like Gecko) Mobile Safari/537.36 (compatible; Bytespider; spider-feedback@bytedance.com)",
      "Script", "SocialBot", "NonHuman", "Other")
  }
  test("Dalvik ZTE") {
    check(
      "Dalvik/2.1.0 (Linux; U; Android 9.0; ZTE BA520 Build/MRA58K)",
      "Mobile", "Other", "Unknown", "Android")
  }
  test("facebookexternalhit") {
    check(
      "facebookexternalhit/1.1 (+http://www.facebook.com/externalhit_uatext.php)",
      "Script", "SocialBot", "NonHuman", "Other")
  }
  test("facebook/1.1 single token") {
    check("facebook/1.1", "Script", "OtherBot", "NonHuman", "Other")
  }
  test("meta-externalagent") {
    check(
      "meta-externalagent/1.1 (+https://developers.facebook.com/docs/sharing/webmasters/crawler)",
      "Script", "AIBot", "NonHuman", "Other")
  }
  test("zgrab") {
    check("Mozilla/5.0 zgrab/0.x", "Script", "Scanner", "NonHuman", "Other", Some("Scanning"))
  }
  test("Expanse") {
    check(
      "Expanse, a Palo Alto Networks company, searches across the global IPv4 space multiple times per day to identify customers&#39; presences on the Internet. If you would like to be excluded from our scans, please send IP addresses/domains to: scaninfo@paloaltonetworks.com",
      "Script", "Scanner", "NonHuman", "Other", Some("Scanning"))
  }
  test("Amazonbot") {
    check(
      "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; Amazonbot/0.1; +https://developer.amazon.com/support/amazonbot) Chrome/119.0.6045.214 Safari/537.36",
      "Script", "AIBot", "NonHuman", "Other", Some("Processing"))
  }

  test("robots.txt override marks non-bots as OtherBot") {
    val chrome = UserAgents.classify(
      "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/136.0.0.0 Safari/537.36")
    val o = UserAgents.robotsOverride(chrome)
    assert(o.ua_family == "OtherBot" && o.ua_human == "NonHuman" && o.ua_device_type == "Script")
    val gpt = UserAgents.classify(
      "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); compatible; GPTBot/1.1; +https://openai.com/gptbot")
    assert(UserAgents.robotsOverride(gpt).ua_family == "AIBot") // bot families kept
  }

  test("blex compatible part reproduces the DeviceType=SEOBot reference bug") {
    // with only the compatible token, the OtherBot post-fix (useragent.go:265-269)
    // overwrites DeviceType back to Script...
    val plain = UserAgents.classify("Mozilla/5.0 (compatible; blexbot/1.0)")
    assert(plain.ua_device_type == "Script" && plain.ua_family == "OtherBot")
    assert(plain.ua_intent == "Processing")
    // ...but a later family-changing token keeps the buggy DeviceType="SEOBot"
    // (useragent.go:283 assigns the family constant to DeviceType)
    val buggy = UserAgents.classify("Mozilla/5.0 (compatible; blexbot/1.0) Chrome/1.0")
    assert(buggy.ua_device_type == "SEOBot")
    assert(buggy.ua_family == "Chrome")
    assert(buggy.ua_intent == "Processing")
  }

  test("no generator UA is classified Human: the A1 humans total is always 0") {
    // no rule in UserAgents returns HumanYes, and the reference fixtures
    // above pin every browser UA to "Unknown"
    val humans = graft.sources.TranscriptGen.uaPool.map(UserAgents.classify)
      .filter(_.ua_human == UserAgents.HumanYes)
    assert(humans.isEmpty, s"Human verdicts: ${humans.map(_.ua_full)}")
  }
}
