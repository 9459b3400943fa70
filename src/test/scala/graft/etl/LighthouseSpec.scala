package graft.etl

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Random, Try}

class LighthouseSpec extends AnyFunSuite {

  /** The streaming reader and the tree reader agree: the same `Metrics`,
    * or the same exception text. */
  private def assertParity(bytes: Array[Byte], label: => String): Unit = {
    val want = Try(LighthouseTree.parse(bytes)).toEither.left.map(_.toString)
    val got = Try(Lighthouse.parse(bytes)).toEither.left.map(_.toString)
    assert(got == want, s"$label (${bytes.length} bytes)")
  }

  private val Keys = Seq("audits", "categories", "performance", "score", "numericValue",
    "largest-contentful-paint", "cumulative-layout-shift", "interactive",
    "server-response-time", "details", "items", "title", "id", "n\u00e9", "é", "")

  private def number(rnd: Random): String = rnd.nextInt(9) match {
    case 0 => rnd.nextInt(100).toString
    case 1 => (-rnd.nextInt(5000)).toString
    case 2 => rnd.nextLong().toString
    case 3 => "1" + Seq.fill(rnd.nextInt(30))(rnd.nextInt(10)).mkString
    case 4 => "%.3f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 5000)
    case 5 => s"${rnd.nextInt(9) + 1}.${rnd.nextInt(999)}e${rnd.nextInt(700) - 350}"
    case 6 => "-0"
    case 7 => "-0.0E+1"
    case _ => "0." + Seq.fill(1 + rnd.nextInt(25))(rnd.nextInt(10)).mkString
  }

  private def text(rnd: Random): String =
    "\"" + Seq.fill(rnd.nextInt(12))(rnd.nextInt(8) match {
      case 0 => "\\n"
      case 1 => "\\u00e9"
      case 2 => "\\ud83d\\ude00"
      case 3 => "é"
      case 4 => "😀"
      case 5 => "\\\""
      case _ => ('a' + rnd.nextInt(26)).toChar.toString
    }).mkString + "\""

  /** A Lighthouse-shaped document: the five paths hold numbers, or now and
    * then something else; other members, nesting and repeated keys mix in. */
  private def value(rnd: Random, depth: Int): String = rnd.nextInt(if (depth > 4) 6 else 8) match {
    case 0 | 1 => number(rnd)
    case 2 => text(rnd)
    case 3 => Seq("true", "false", "null")(rnd.nextInt(3))
    case 4 | 5 => number(rnd)
    case 6 => obj(rnd, depth + 1)
    case _ => Seq.fill(rnd.nextInt(4))(value(rnd, depth + 1)).mkString("[", ",", "]")
  }

  private def obj(rnd: Random, depth: Int): String =
    Seq.fill(rnd.nextInt(5))("\"" + Keys(rnd.nextInt(Keys.length)) + "\":" + value(rnd, depth))
      .mkString("{", ",", "}")

  private def document(rnd: Random): String = {
    def audit(key: String) = {
      val v = if (rnd.nextInt(6) == 0) value(rnd, 3) else number(rnd)
      s"\"$key\":{\"id\":\"$key\",\"score\":0.5,\"numericValue\":$v,\"details\":${obj(rnd, 3)}}"
    }
    val audits = Seq("largest-contentful-paint", "cumulative-layout-shift", "interactive",
      "server-response-time", "speed-index").filter(_ => rnd.nextInt(5) > 0).map(audit)
    val score = if (rnd.nextInt(5) == 0) value(rnd, 3) else number(rnd)
    val members = Seq(
      "\"lighthouseVersion\":\"12.0.0\"",
      audits.mkString("\"audits\":{", ",", "}"),
      s"\"categories\":{\"performance\":{\"id\":\"performance\",\"score\":$score}}",
      "\"extra\":" + obj(rnd, 1)) ++
      Seq.fill(rnd.nextInt(3))("\"" + Keys(rnd.nextInt(5)) + "\":" + value(rnd, 1))
    rnd.shuffle(members).mkString("{", ",", "}")
  }

  test("streaming parse matches the tree reader on seeded documents, truncations and byte flips") {
    val rnd = new Random(20261020L)
    val Interesting = Seq('"', '\\', '{', '}', '[', ']', ',', ':', ' ', '0', 'e', '-', '.')
      .map(_.toByte) ++ Seq(0x00, 0x01, 0x1F, 0x7F, 0x80, 0xBF, 0xC1, 0xC3, 0xE2, 0xED, 0xF0, 0xF5, 0xFF)
      .map(_.toByte)
    var cases = 0
    for (i <- 0 until 400) {
      val doc = document(rnd).getBytes(UTF_8)
      assertParity(doc, s"document $i")
      for (_ <- 0 until 3) {
        val cut = rnd.nextInt(doc.length + 1)
        assertParity(doc.take(cut), s"document $i cut at $cut")
      }
      for (_ <- 0 until 6) {
        val flipped = doc.clone()
        val at = rnd.nextInt(doc.length)
        flipped(at) = if (rnd.nextBoolean()) rnd.nextInt(256).toByte
                      else Interesting(rnd.nextInt(Interesting.length))
        assertParity(flipped, s"document $i flipped at $at")
      }
      cases += 10
    }
    assert(cases == 4000)
  }

  test("streaming parse matches the tree reader on hand-written edge cases") {
    val lcp = "\"audits\":{\"largest-contentful-paint\":{\"numericValue\":1200}}"
    val texts = Seq(
      // duplicate keys: the last one wins, whatever it holds
      s"{$lcp,\"audits\":{}}",
      s"{$lcp,\"audits\":3}",
      s"{$lcp,\"audits\":null}",
      s"{\"audits\":{},$lcp}",
      "{\"audits\":{\"interactive\":{\"numericValue\":1,\"numericValue\":\"x\"}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":1},\"interactive\":{}}}",
      "{\"categories\":{\"performance\":{\"score\":0.9}},\"categories\":{\"performance\":null}}",
      "{\"categories\":{\"performance\":{\"score\":0.9,\"score\":null}}}",
      "{\"categories\":{\"performance\":{\"score\":0.9}},\"categories\":[]}",
      // non-object roots, empty input
      "", "   \n\t", "[]", s"[{$lcp}]", "\"audits\"", "\"bad\\qescape\"", "12", "-0", "1e999",
      "true", "null", "nul", "]", "}", "{", "[", ":",
      // trailing text after the root value
      s"{$lcp} trailing", s"{$lcp}{}", s"{$lcp}]", "12x", "12 x", "[] garbage", "\"s\" x",
      // the five paths holding non-numbers
      "{\"audits\":{\"interactive\":{\"numericValue\":\"12\"}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":[12]}}}",
      "{\"audits\":{\"interactive\":[{\"numericValue\":12}]}}",
      "{\"audits\":[{\"interactive\":{\"numericValue\":12}}]}",
      // number forms
      "{\"audits\":{\"interactive\":{\"numericValue\":123456789012345678901234567890}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":9223372036854775807}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":-9223372036854775809}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":1E400}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":01}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":NaN}}}",
      "{\"audits\":{\"interactive\":{\"numericValue\":" + "9" * 1001 + "}}}",
      // names and strings
      "{\"x\":\"a\u0001b\"}", "{\"x\":\"a\\qb\"}", "{\"x\":\"a\\u12G4\"}", "{'x':1}",
      "{\"" + "k" * 50001 + "\":1}",
      "{\"audits\":{\"interactive\":{\"numericValue\":5}}, \"a\u00e9\":\"\\ud83d\\ude00\"}",
      // nesting at the parser's limit (1000), in an ignored member and at the root
      "{\"x\":" + "[" * 999 + "]" * 999 + s",$lcp}",
      "{\"x\":" + "[" * 1000 + "]" * 1000 + s",$lcp}",
      "[" * 1000 + "]" * 1000,
      "[" * 1001 + "]" * 1001,
      "{\"a\":" * 999 + "1" + "}" * 999,
      "{\"a\":" * 1000 + "1" + "}" * 1000)
    texts.zipWithIndex.foreach { case (t, i) => assertParity(t.getBytes(UTF_8), s"case $i") }

    val body = s"{$lcp}".getBytes(UTF_8)
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val raw = Seq(
      bytes(0xEF, 0xBB, 0xBF) ++ body,                          // UTF-8 BOM
      bytes(0x20, 0xEF, 0xBB, 0xBF) ++ body,
      bytes(0xFE, 0xFF) ++ s"{$lcp}".getBytes(UTF_16BE),         // UTF-16 with and without BOM
      s"{$lcp}".getBytes(UTF_16LE),
      s"{$lcp}".getBytes(UTF_16BE),
      bytes(0, 0, 0) ++ body,
      body ++ bytes(0xFF),                                       // invalid UTF-8 after, inside, before
      "{\"x\":\"".getBytes(UTF_8) ++ bytes(0xC1, 0xA1) ++ "\",".getBytes(UTF_8) ++ body.drop(1),
      "{\"".getBytes(UTF_8) ++ bytes(0xC1, 0xA1) ++ "udits\":{\"interactive\":{\"numericValue\":1}}}".getBytes(UTF_8),
      "{\"x\":\"".getBytes(UTF_8) ++ bytes(0xED, 0xA0, 0x80) ++ "\"}".getBytes(UTF_8),
      "{\"x\":\"".getBytes(UTF_8) ++ bytes(0xF4, 0x90, 0x80, 0x80) ++ "\"}".getBytes(UTF_8),
      "{\"x\":\"".getBytes(UTF_8) ++ bytes(0xE2, 0x82) ++ "\"}".getBytes(UTF_8),
      bytes(0x80) ++ body,
      bytes(0x7B), bytes(0x7B, 0x7D), bytes(0x31))
    raw.zipWithIndex.foreach { case (b, i) => assertParity(b, s"raw case $i") }
  }

  test("a string one character past the parser's length limit fails as the tree reader fails") {
    val limit = com.fasterxml.jackson.core.StreamReadConstraints.defaults().getMaxStringLength
    for (n <- Seq(limit, limit + 1)) {
      val sb = new java.lang.StringBuilder(n + 100)
      sb.append("{\"x\":\"")
      var i = 0
      while (i < n) { sb.append('a'); i += 1 }
      sb.append("\",\"categories\":{\"performance\":{\"score\":1}}}")
      assertParity(sb.toString.getBytes(UTF_8), s"string of $n")
    }
  }

  test("a 50 MB array under an ignored key parses while allocating less than 1.5x its size") {
    val head = "{\"audits\":{\"interactive\":{\"numericValue\":150}},\"filler\":[".getBytes(UTF_8)
    val tail = "0],\"categories\":{\"performance\":{\"score\":0.5}}}".getBytes(UTF_8)
    val n = 50 * 1000 * 1000
    val bytes = new Array[Byte](n)
    System.arraycopy(head, 0, bytes, 0, head.length)
    var i = head.length
    while (i + 2 <= n - tail.length) { bytes(i) = '0'; bytes(i + 1) = ','; i += 2 }
    while (i < n - tail.length) { bytes(i) = ' '; i += 1 }
    System.arraycopy(tail, 0, bytes, n - tail.length, tail.length)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    Lighthouse.parse("{}".getBytes(UTF_8))
    val before = mx.getThreadAllocatedBytes(id)
    val m = Lighthouse.parse(bytes)
    val allocated = mx.getThreadAllocatedBytes(id) - before
    assert(m == Lighthouse.Metrics(None, None, Some(150.0), None, Some(0.5)))
    assert(allocated < 1.5 * n, s"allocated $allocated bytes for a $n-byte entry")
  }

  test("p75 lower nearest rank at n = 1..4") {
    assert(Lighthouse.p75(Seq(5.0)).contains(5.0))
    assert(Lighthouse.p75(Seq(2.0, 1.0)).contains(1.0))        // floor(.75*1)=0
    assert(Lighthouse.p75(Seq(3.0, 1.0, 2.0)).contains(2.0))   // floor(1.5)=1
    assert(Lighthouse.p75(Seq(4.0, 1.0, 3.0, 2.0)).contains(3.0)) // floor(2.25)=2
    assert(Lighthouse.p75(Nil).isEmpty)
  }

  test("pass rate counts only URLs with all three metrics") {
    val pass = Lighthouse.Metrics(Some(2000), Some(0.05), Some(150), None, None)
    val fail = Lighthouse.Metrics(Some(3000), Some(0.2), Some(250), None, None)
    val incomplete = Lighthouse.Metrics(Some(1000), None, Some(100), None, None)
    assert(Lighthouse.passRate(Seq(pass, fail, incomplete)).contains(0.5))
    assert(Lighthouse.passRate(Seq(incomplete)).isEmpty)
    assert(Lighthouse.passRate(Nil).isEmpty)
  }

  test("boundary thresholds are inclusive (<=)") {
    val edge = Lighthouse.Metrics(Some(2500), Some(0.1), Some(200), None, None)
    assert(Lighthouse.passRate(Seq(edge)).contains(1.0))
  }

  test("metric extraction tolerates missing audits and null scores") {
    val m = Lighthouse.parse(Fixtures.utf8("""{"audits":{}}"""))
    assert(m.lcpMs.isEmpty && m.perfScore.isEmpty)
    val m2 = Lighthouse.parse(Fixtures.utf8(
      """{"audits":{"interactive":{"numericValue":123}},
        |"categories":{"performance":{"score":null}}}""".stripMargin))
    assert(m2.inpMs.contains(123.0) && m2.perfScore.isEmpty)
  }

  test("malformed JSON throws (caller marks manifest partial)") {
    intercept[Exception] { Lighthouse.parse(Fixtures.utf8("{nope")) }
  }
}
