package graft.etl

import org.scalatest.funsuite.AnyFunSuite

class PickColSpec extends AnyFunSuite {

  test("exact match after case/trim normalization") {
    assert(PickCol.pick(Seq("Current Position"), Seq("Current position"))
      .contains("Current Position"))
  }

  test("NBSP and collapsed whitespace normalize away") {
    assert(PickCol.pick(Seq("Current\u00A0Position"), Seq("current position"))
      .contains("Current\u00A0Position"))
    assert(PickCol.pick(Seq("Current  Position"), Seq("current position"))
      .contains("Current  Position"))
  }

  test("no-space fuzzy pass matches when spacing differs structurally") {
    assert(PickCol.pick(Seq("CurrentPosition"), Seq("Current position"))
      .contains("CurrentPosition"))
    assert(PickCol.pick(Seq("status  code"), Seq("statuscode"))
      .contains("status  code"))
  }

  test("candidate priority: first candidate wins over later ones") {
    assert(PickCol.pick(Seq("url", "Current URL"), Seq("Current URL", "url"))
      .contains("Current URL"))
  }

  test("per-candidate exact-then-fuzzy: exact of candidate 1 beats fuzzy") {
    // Candidate "a b" matches header "a b" exactly and "ab" fuzzily;
    // exact is preferred.
    assert(PickCol.pick(Seq("ab", "a b"), Seq("a b")).contains("a b"))
  }

  test("returns the ORIGINAL header name") {
    assert(PickCol.pick(Seq("  Domain   Rating "), Seq("domain rating"))
      .contains("  Domain   Rating "))
  }

  test("no match yields None") {
    assert(PickCol.pick(Seq("foo", "bar"), Seq("baz")).isEmpty)
  }

  test("later duplicate-normalizing header shadows earlier (JS Map.set)") {
    assert(PickCol.pick(Seq("Url", "URL"), Seq("url")).contains("URL"))
  }

  test("norm/normNoSpace equal the per-call replaceAll form on seeded headers") {
    def oldNorm(s: String): String =
      Option(s).getOrElse("").replace('\u00A0', ' ').replaceAll("\\s+", " ").trim.toLowerCase
    def oldNormNoSpace(s: String): String = oldNorm(s).replaceAll("\\s+", "")
    val edges = Seq(null, "", " ", "\u00A0", "\u2003", "Current\u00A0Position",
      "  Status\t\tCode ", "a\r\nb", "\u2003Em\u2003Space\u2003", "MiXeD CaSe", "\u000b\u000c\u001c")
    val alphabet = "aBcZ \t\r\n\u00A0\u2003\u000b\u000c\u0085\u3000_-1"
    val rnd = new scala.util.Random(20261020L)
    val seeded = Seq.fill(3000)(
      Seq.fill(rnd.nextInt(16))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (h <- edges ++ seeded) {
      assert(PickCol.norm(h) == oldNorm(h), s"norm of '$h'")
      assert(PickCol.normNoSpace(h) == oldNormNoSpace(h), s"normNoSpace of '$h'")
    }
  }
}
