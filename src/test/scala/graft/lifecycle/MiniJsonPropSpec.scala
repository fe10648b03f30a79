package graft.lifecycle

import scala.util.{Random, Try}

import com.fasterxml.jackson.databind.JsonNode
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Generative coverage for the JSON reader every request body, provider
  * reply, config and stored file parses through ([[Json.parse]], the
  * engine's one Jackson mapper, strict about trailing content). The
  * generator builds the document AST first (the ground truth), serializes
  * it with an INDEPENDENT writer that sprinkles the freedoms the format
  * allows (whitespace between tokens, short vs `\\uXXXX` escapes, hex case,
  * `\\/`), and requires the parser to recover the AST exactly — the same
  * build-the-truth-first discipline that found real holes in the WARC,
  * TTL, SQL-gate, multipart, and MJPEG parsers.
  *
  * Properties:
  *  1. JSON round-trip: parse(write(ast)) == ast with TYPE fidelity
  *     (a Long reads as an integral node and a Double as a floating-point
  *     one — a numeric compare alone would hide an integer arriving as a
  *     Double, so the compare checks node kinds, and doubles compare by
  *     bit pattern).
  *  2. prefix loudness: every strict prefix of an object-rooted
  *     document fails the parse — nothing truncated ever parses
  *     quietly (the root's closing brace is its last byte).
  */
class MiniJsonPropSpec extends AnyFunSuite {

  private def holds(p: Prop, n: Int = 150): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  // ---- independent writer ------------------------------------------------

  /** Random inter-token whitespace (the JSON grammar's `ws`). */
  private def ws(rnd: Random): String =
    if (rnd.nextInt(4) == 0) {
      val c = " \t\n\r".charAt(rnd.nextInt(4)).toString
      c * (1 + rnd.nextInt(2))
    } else ""

  private def escape(s: String, rnd: Random): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append(if (rnd.nextBoolean()) "\\n" else "\\u000a")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '/' if rnd.nextInt(4) == 0 => sb.append("\\/")
      case c if c < 0x20 =>
        val hex = f"${c.toInt}%04x"
        sb.append("\\u").append(if (rnd.nextBoolean()) hex.toUpperCase else hex)
      case c if rnd.nextInt(10) == 0 =>
        // any char may be \u-escaped, one code UNIT at a time (surrogate
        // halves individually — the JSON convention for astral chars)
        val hex = f"${c.toInt}%04x"
        sb.append("\\u").append(if (rnd.nextBoolean()) hex.toUpperCase else hex)
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Serializes the AST's value shapes: Map[String, Any] / Seq[Any] /
    * String / Long / Double / Boolean / null. */
  private def write(v: Any, rnd: Random): String = v match {
    case null       => "null"
    case b: Boolean => b.toString
    case l: Long    => l.toString
    case d: Double  => d.toString // Java repr always carries '.' or 'E'
    case s: String  => escape(s, rnd)
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].iterator
        .map { case (k, mv) =>
          ws(rnd) + escape(k, rnd) + ws(rnd) + ":" + ws(rnd) + write(mv, rnd) }
        .mkString("{", ",", ws(rnd) + "}")
    case q: Seq[_] =>
      q.iterator.map(x => ws(rnd) + write(x, rnd) + ws(rnd))
        .mkString("[", ",", "]")
    case other => sys.error(s"unexpected AST node: $other")
  }

  /** Type-faithful deep equality of an AST and the parsed tree: 5L must
    * NOT match a node holding 5.0 (the integral-vs-floating split is part
    * of the reader's contract), and doubles compare by bits so -0.0 stays
    * distinguishable from 0.0. */
  private def deepEq(a: Any, n: JsonNode): Boolean = a match {
    case null => n.isNull
    case x: Map[_, _] =>
      val xm = x.asInstanceOf[Map[String, Any]]
      n.isObject && xm.size == n.size && xm.forall { case (k, v) =>
        n.has(k) && deepEq(v, n.get(k)) }
    case x: Seq[_] =>
      n.isArray && x.size == n.size &&
        x.indices.forall(i => deepEq(x(i), n.get(i)))
    case x: java.lang.Long =>
      n.isIntegralNumber && n.canConvertToLong && n.longValue == x
    case x: java.lang.Double =>
      n.isFloatingPointNumber &&
        java.lang.Double.doubleToLongBits(n.doubleValue) ==
          java.lang.Double.doubleToLongBits(x)
    case x: java.lang.Boolean => n.isBoolean && n.booleanValue == x
    case x: String => n.isTextual && n.textValue == x
    case _ => false
  }

  // ---- AST generators ------------------------------------------------------

  private val jsonChar: Gen[String] = Gen.frequency(
    10 -> Gen.choose(32, 126).map(_.toChar.toString),
    2  -> Gen.oneOf("\"", "\\", "\n", "\t", "\r", "\b", "\f", "/", ""),
    2  -> Gen.oneOf("é", "中", "한", "𝕊", "😀", " ", " "),
    1  -> Gen.choose(0x20, 0xffff).suchThat(cp =>
      !Character.isSurrogate(cp.toChar)).map(_.toChar.toString))

  private val genStr: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, jsonChar)).map(_.mkString)

  private val genLong: Gen[Any] = Gen.frequency(
    4 -> Gen.chooseNum(-1000L, 1000L),
    1 -> Gen.oneOf(0L, -1L, Long.MaxValue, Long.MinValue + 1,
      4611686018427387904L)).map(x => x: Any)

  private val genDouble: Gen[Any] = Gen.frequency(
    4 -> Gen.chooseNum(-1e30, 1e30),
    1 -> Gen.oneOf(0.0, -0.0, 1.5e-12, 6.62607015e-34, 1.0e300))
    .map(x => x: Any)

  private val genLeaf: Gen[Any] = Gen.frequency(
    3 -> genStr.map(x => x: Any),
    3 -> genLong,
    2 -> genDouble,
    1 -> Gen.oneOf(true: Any, false: Any),
    1 -> Gen.const(null: Any))

  private def genValue(depth: Int): Gen[Any] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      4 -> genLeaf,
      2 -> genObj(depth - 1).map(x => x: Any),
      2 -> Gen.choose(0, 4).flatMap(n =>
        Gen.listOfN(n, genValue(depth - 1))).map(xs => xs: Any))

  private def genObj(depth: Int): Gen[Map[String, Any]] = for {
    n  <- Gen.choose(0, 4)
    ks <- Gen.listOfN(n, genStr).map(_.distinct)
    vs <- Gen.listOfN(ks.size, genValue(depth))
  } yield ks.zip(vs).toMap

  private val genSeed: Gen[Long] = Gen.chooseNum(Long.MinValue, Long.MaxValue)

  // ---- properties: Json.parse ----------------------------------------------

  test("round-trip: parse(write(ast)) recovers the AST with type fidelity") {
    holds(Prop.forAll(genValue(3), genSeed) { (ast, seed) =>
      val parsed = Json.parse(write(ast, new Random(seed)))
      deepEq(ast, parsed)
    })
  }

  test("prefix loudness: every strict prefix of an object root fails") {
    holds(Prop.forAll(genObj(2), genSeed) { (ast, seed) =>
      val doc = write(ast, new Random(seed))
      (0 until doc.length).forall(cut =>
        Try(Json.parse(doc.substring(0, cut))).isFailure)
    }, n = 80)
  }
}
