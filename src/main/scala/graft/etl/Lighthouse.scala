package graft.etl

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonToken._
import java.nio.charset.StandardCharsets

/** Lighthouse JSON metric extraction (reference parity:
  * /root/reference/src/etl.js:258-304): per-file LCP/CLS/INP/TTFB numeric
  * values + performance score, then lower-nearest-rank p75 and the CWV
  * pass rate across files.
  *
  * `parse` streams: it builds no tree and keeps only the five numbers, yet
  * accepts, rejects and reads exactly what `ObjectMapper.readTree` over the
  * UTF-8-decoded text does. It tokenizes the whole root value with the
  * calls the tree reader makes (`nextFieldName` in objects, `nextToken`
  * for values and in arrays); a repeated key resets what an earlier one
  * set, as the tree's last-wins `replace` does, and text after the root
  * value is ignored, as `readTree` ignores it.
  */
object Lighthouse {

  final case class Metrics(lcpMs: Option[Double], cls: Option[Double],
                           inpMs: Option[Double], ttfbMs: Option[Double],
                           perfScore: Option[Double])

  private val factory = new JsonFactory

  /** The five paths as nested member names; a leaf is a `Metrics` slot. */
  private sealed trait Node { def slots: Seq[Int] }
  private final case class Leaf(slot: Int) extends Node { def slots: Seq[Int] = Seq(slot) }
  private final case class Obj(members: Map[String, Node]) extends Node {
    val slots: Seq[Int] = members.values.flatMap(_.slots).toSeq
  }
  private def audit(slot: Int): Obj = Obj(Map("numericValue" -> Leaf(slot)))
  private val Root = Obj(Map(
    "audits" -> Obj(Map(
      "largest-contentful-paint" -> audit(0),
      "cumulative-layout-shift" -> audit(1),
      "interactive" -> audit(2),
      "server-response-time" -> audit(3))),
    "categories" -> Obj(Map(
      "performance" -> Obj(Map("score" -> Leaf(4)))))))

  /** Throws on malformed JSON (caller marks the manifest `partial`). */
  def parse(bytes: Array[Byte]): Metrics =
    read(factory.createParser(new String(bytes, StandardCharsets.UTF_8)))

  /** Every string value is read in full, as the tree reader's `getText`
    * reads it, so an over-long string fails here too. */
  private def read(p: JsonParser): Metrics = {
    val value = new Array[Double](5)
    val set = new Array[Boolean](5)

    def scalarOrSkip(t: JsonToken): Unit = t match {
      case START_OBJECT | START_ARRAY => skip()
      case VALUE_STRING => p.getText
      case null => throw new IllegalStateException("unexpected end of tokens")
      case _ =>
    }

    /** Skips the container just opened, down to its matching end. */
    def skip(): Unit = {
      var depth = 1
      while (depth > 0) {
        val t =
          if (p.getParsingContext.inObject) {
            if (p.nextFieldName() == null) p.currentToken else p.nextToken()
          } else p.nextToken()
        t match {
          case START_OBJECT | START_ARRAY => depth += 1
          case END_OBJECT | END_ARRAY => depth -= 1
          case other => scalarOrSkip(other)
        }
      }
    }

    def number(t: JsonToken): Double = t match {
      case VALUE_NUMBER_INT => p.getNumberType match {
        case JsonParser.NumberType.INT => p.getIntValue.toDouble
        case JsonParser.NumberType.LONG => p.getLongValue.toDouble
        case _ => p.getBigIntegerValue.doubleValue
      }
      case _ => p.getDoubleValue
    }

    def members(obj: Obj): Unit = {
      var name = p.nextFieldName()
      while (name != null) {
        val t = p.nextToken()
        obj.members.get(name) match {
          case None => scalarOrSkip(t)
          case Some(node) =>
            node.slots.foreach(set(_) = false)
            node match {
              case Leaf(s) if t == VALUE_NUMBER_INT || t == VALUE_NUMBER_FLOAT =>
                value(s) = number(t)
                set(s) = true
              case child: Obj if t == START_OBJECT => members(child)
              case _ => scalarOrSkip(t)
            }
        }
        name = p.nextFieldName()
      }
    }

    try {
      p.nextToken() match {
        case START_OBJECT => members(Root)
        case START_ARRAY => skip()
        case VALUE_STRING => p.getText
        case _ => // empty input, or a root scalar already read in full
      }
    } finally p.close()
    def slot(i: Int): Option[Double] = if (set(i)) Some(value(i)) else None
    Metrics(lcpMs = slot(0), cls = slot(1), inpMs = slot(2), ttfbMs = slot(3), perfScore = slot(4))
  }

  /** `sorted(a)[floor(0.75*(n-1))]` — lower nearest rank (etl.js:284-289). */
  def p75(values: Seq[Double]): Option[Double] =
    if (values.isEmpty) None
    else {
      val s = values.sorted
      Some(s(math.floor(0.75 * (s.length - 1)).toInt))
    }

  /** Pass across URLs with all three metrics present: LCP<=2500 &&
    * CLS<=0.1 && INP<=200 (etl.js:297-303). None when no URL qualifies. */
  def passRate(all: Seq[Metrics]): Option[Double] = {
    val complete = all.filter(m =>
      m.lcpMs.isDefined && m.cls.isDefined && m.inpMs.isDefined)
    if (complete.isEmpty) None
    else {
      val pass = complete.count(m =>
        m.lcpMs.get <= 2500 && m.cls.get <= 0.1 && m.inpMs.get <= 200)
      Some(pass.toDouble / complete.size)
    }
  }
}
