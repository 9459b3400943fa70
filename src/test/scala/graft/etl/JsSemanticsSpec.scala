package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import J._

/** JS-semantics helpers: toNum parity with `Number(String(v ?? '')
  * .replace(/[^0-9.\-]/g,''))`, maxNum, and the JSON number formatting of
  * JSON.stringify. */
class JsSemanticsSpec extends AnyFunSuite {

  import AuditEtl.{jsToNum, maxNum}

  test("jsToNum mirrors JS Number() on stripped strings") {
    assert(jsToNum(Some("5")) == 5.0)
    assert(jsToNum(Some("5.")) == 5.0)          // Number('5.') = 5
    assert(jsToNum(Some("-.5")) == -0.5)        // Number('-.5') = -0.5
    assert(jsToNum(Some("007")) == 7.0)
    assert(jsToNum(Some("$1,234.56")) == 1234.56)
    assert(jsToNum(Some("12 apples")) == 12.0)
    assert(jsToNum(Some("")) == 0.0)            // Number('') = 0
    assert(jsToNum(Some("junk")) == 0.0)        // strips to '' -> 0
    assert(jsToNum(None) == 0.0)                // String(undefined ?? '') = ''
    assert(jsToNum(Some("1-2")).isNaN)
    assert(jsToNum(Some("1.2.3")).isNaN)
    assert(jsToNum(Some("-")).isNaN)
    assert(jsToNum(Some(".")).isNaN)
  }

  /** The regex form jsToNum replaced, kept as the oracle. */
  private def regexToNum(v: Option[String]): Double = {
    val s = v.getOrElse("").replaceAll("[^0-9.\\-]", "")
    if (s.isEmpty) 0.0
    else if (s.matches("^-?(\\d+\\.?\\d*|\\.\\d+)$")) s.toDouble
    else Double.NaN
  }

  private def sameNum(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || java.lang.Double.compare(a, b) == 0

  test("jsToNum equals the regex oracle on edge cases and seeded random strings") {
    val edges = Seq("", "5", "5.", ".5", "-.5", "-5.", "-0", "0", "007", "1-2",
      "1.2.3", "-", ".", "-.", "--1", "1-", "$1,234.56", "12 apples", "1e5",
      "+3", " -7 ", "x-1", "-x1", "1.-2", "..1", "1..", "9" * 400, "é1", "\uD83D\uDE001")
    for (s <- edges)
      assert(sameNum(jsToNum(Some(s)), regexToNum(Some(s))), s"input '$s'")
    assert(sameNum(jsToNum(None), regexToNum(None)))
    val alphabet = "0123456789.-$,e+ x"
    val rnd = new scala.util.Random(20261019L)
    for (_ <- 0 until 5000) {
      val s = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(sameNum(jsToNum(Some(s)), regexToNum(Some(s))), s"input '$s'")
    }
  }

  test("maxNum: max of finite casts, None when nothing is numeric") {
    val rows = Vector(Map("v" -> "10"), Map("v" -> "abc"), Map("v" -> "30"))
    assert(maxNum(rows, "v").contains(30.0))    // 'abc' -> 0, max still 30
    val bad = Vector(Map("v" -> "1-2"), Map("v" -> "."))
    assert(maxNum(bad, "v").isEmpty)
  }

  test("JNum formats like JSON.stringify") {
    assert(JNum(24.0).toJson == "24")
    assert(JNum(0.5).toJson == "0.5")
    assert(JNum(6.3).toJson == "6.3")
    assert(JNum(Double.NaN).toJson == "null")
    assert(JNum(-0.0).toJson == "0")
  }

  test("JStr escapes controls, quotes, backslashes") {
    assert(JStr("a\"b\\c\nd").toJson == "\"a\\\"b\\\\c\\nd\"")
  }

  test("JStr and JObj serialize like the per-character escaper on seeded strings") {
    def oldQuote(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val controls = (0 until 0x20).map(_.toChar.toString)
    val edges = Seq("", "plain", "\"", "\\", "\\\"", "a\"b\\c\nd", "é ü 日本 \uD83D\uDE00",
      "\uD800", "x\uDC00y", "\uDBFF", "\u007f\u0080\u2028") ++ controls :+ controls.mkString
    val alphabet = "ab\"\\/é\u2028\uD800\uDC00\u007f" + controls.mkString
    val rnd = new scala.util.Random(20261021L)
    val seeded = Seq.fill(3000)(
      Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (s <- edges ++ seeded) {
      assert(JStr(s).toJson == oldQuote(s), s"string ${s.map(_.toInt)}")
      assert(JObj(s -> JArr(Seq(JStr(s), JNull, JNum(1.5))), "k" -> JBool(true)).toJson ==
        "{" + oldQuote(s) + ":[" + oldQuote(s) + ",null,1.5],\"k\":true}")
    }
  }
}
