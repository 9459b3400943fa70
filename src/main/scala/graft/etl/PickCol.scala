package graft.etl

/** Fuzzy column-header resolver (reference parity:
  * /root/reference/src/etl.js:44-72 `pickCol`).
  *
  * Resolution per candidate, in candidate order: first an exact match on the
  * aggressively-normalized form (NBSP→space, whitespace collapsed, trimmed,
  * lowercased), then a match on the no-space form. Later headers shadow
  * earlier ones with the same normalized form (JS `Map.set` overwrite
  * order).
  */
object PickCol {

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  def norm(s: String): String =
    Whitespace.matcher(Option(s).getOrElse("").replace('\u00A0', ' '))
      .replaceAll(" ")
      .trim
      .toLowerCase

  def normNoSpace(s: String): String = Whitespace.matcher(norm(s)).replaceAll("")

  /** One header set's two lookup maps, built once and shared by every
    * `pick` over those headers (the no-space map only once a candidate
    * misses the exact one). */
  final class Lookup(headers: Seq[String]) {
    private val exact = headers.map(h => norm(h) -> h).toMap
    private lazy val noSpace = headers.map(h => normNoSpace(h) -> h).toMap

    /** Returns the ORIGINAL header name, as the reference does (rows are
      * then indexed by the original key). */
    def pick(candidates: Seq[String]): Option[String] =
      candidates.iterator.flatMap { want =>
        exact.get(norm(want)).orElse(noSpace.get(normNoSpace(want)))
      }.nextOption()
  }

  def pick(headers: Seq[String], candidates: Seq[String]): Option[String] =
    new Lookup(headers).pick(candidates)
}
