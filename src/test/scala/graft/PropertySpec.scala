package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.{CosineSimilarity, Sq8}
import graft.operators.Profile

/** Property tests (SURVEY §5.3): invariants over generated inputs, run with
  * raw ScalaCheck (fixed seed count, assertion on the aggregate result). */
class PropertySpec extends SparkSpec {

  private def holds(p: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("yaml map parse: round-trips flat string pairs") {
    val key = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val value = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    holds(Prop.forAll(Gen.mapOf(Gen.zip(key, value))) { m =>
      val text = m.map { case (k, v) => s"$k: $v" }.mkString("\n")
      graft.lifecycle.Agents.parseYamlMap(text) == m
    }, n = 50)
  }

  test("session-store eviction: retained window never exceeds 2*max-1") {
    val store = new graft.lifecycle.SessionStore(
      java.nio.file.Paths.get("target/test_sessions_prop"))
    holds(Prop.forAll(Gen.choose(1, 40)) { n =>
      val tid = s"t$n"
      (1 to n).foreach { i =>
        store.append(tid, "user", s"q$i"); store.append(tid, "assistant", s"a$i")
      }
      store.messages(tid).length <= 2 * store.MaxConversations - 1
    }, n = 30)
  }

  test("TTL roundtrip: generated ontologies parse back structure-identical") {
    val name = for {
      h <- Gen.alphaUpperChar
      t <- Gen.listOfN(5, Gen.alphaLowerChar)
    } yield (h :: t).mkString
    val label = Gen.option(
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
    val klass = Gen.zip(name, label)
    val prop = for {
      n <- name.map(_.toLowerCase)
      l <- label
      d <- name; r <- name
      obj <- Gen.oneOf(true, false)
    } yield (n, l, d, r, obj)
    val onto = for {
      cs <- Gen.listOfN(3, klass)
      ps <- Gen.listOfN(3, prop)
      // distinct subject names — TTL statements about one subject merge
      if (cs.map(_._1) ++ ps.map(_._1)).distinct.size == 6
    } yield (cs, ps)
    holds(Prop.forAll(onto) { case (cs, ps) =>
      val ttl = "@prefix ex: <http://example.org/x#> .\n" +
        cs.map { case (n, l) =>
          s"ex:$n a owl:Class" +
            l.map(s => s" ;\n  rdfs:label \"$s\"").getOrElse("") + " ."
        }.mkString("\n") + "\n" +
        ps.map { case (n, l, d, r, obj) =>
          val kind = if (obj) "ObjectProperty" else "DatatypeProperty"
          s"ex:$n a owl:$kind" +
            l.map(s => s" ;\n  rdfs:label \"$s\"").getOrElse("") +
            s" ;\n  rdfs:domain ex:$d ;\n  rdfs:range ex:$r ."
        }.mkString("\n")
      graft.lifecycle.Ontology.parseTtl(ttl) match {
        case Right(parsed) =>
          parsed.classes.map(c => (c.name, c.label)) == cs &&
            parsed.properties.map(p =>
              (p.name, p.label, p.domain.get, p.range.get, p.objectProperty)) == ps
        case Left(_) => false
      }
    }, n = 50)
  }

  test("cosine similarity bounded in [-1,1] and 1 on self for random vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Seq.tabulate(200) { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    }.toDF("i", "v")
    val stats = vecs.as("a").crossJoin(vecs.as("b")).limit(5000)
      .select(CosineSimilarity.of(col("a.v"), col("b.v")).as("s"))
      .agg(min("s"), max("s")).collect()(0)
    assert(stats.getDouble(0) >= -1.0 - 1e-9 && stats.getDouble(1) <= 1.0 + 1e-9)
    val self = vecs.select(CosineSimilarity.of(col("v"), col("v")).as("s"))
      .agg(min("s")).collect()(0).getDouble(0)
    assert(self > 1.0 - 1e-9)
  }

  test("sq8: roundtrip within half a step, re-encode is an identity, " +
      "quantized cosine tracks exact — random signs and magnitudes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // magnitudes spanning 1e-6..1e6, signs mixed, plus an all-zero vector
    val vecs = (Seq.tabulate(200) { i =>
      val rnd = new scala.util.Random(i)
      val mag = math.pow(10.0, rnd.nextInt(13) - 6)
      (i.toLong, Seq.fill(16)((rnd.nextDouble() * 2 - 1) * mag))
    } :+ ((200L, Seq.fill(16)(0.0)))).toDF("i", "v")
    // decode in plain Scala: [8-byte big-endian scale][n int8 codes],
    // v_i ≈ code_i·scale/127
    def decode(code: Array[Byte]): Seq[Double] = {
      val scale = java.nio.ByteBuffer.wrap(code, 0, 8).getDouble
      code.drop(8).map(_ * scale / 127.0).toSeq
    }
    val enc = vecs.select(col("i"), col("v"), Sq8.encode(col("v")).as("code"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getAs[Array[Byte]](2)))
    val bad = enc.count { case (_, v, code) =>
      val scale = v.map(math.abs).max
      v.zip(decode(code)).map { case (a, b) => math.abs(a - b) }.max >
        scale / 254.0 + 1e-18
    }
    assert(bad == 0, s"$bad vectors exceed the half-step roundtrip bound")
    // re-encode stability: the CODES are an identity (the max-abs element
    // always lands on ±127, so integer codes re-round to themselves); the
    // 8-byte scale header may shift one ulp ((127·s)/127 double-rounds),
    // which changes no decoded value beyond that ulp — so compare codes
    // exactly and scales relatively.
    val reenc = enc.map { case (i, _, code) => (i, decode(code)) }.toSeq
      .toDF("i", "w").select(col("i"), Sq8.encode(col("w")).as("code"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    enc.foreach { case (i, v, code) =>
      assert(reenc(i).drop(8).toSeq == code.drop(8).toSeq,
        s"codes changed on re-encode: $i")
      val s1 = v.map(math.abs).max
      val s2 = decode(code).map(math.abs).max
      assert(s1 == 0.0 && s2 == 0.0 ||
        math.abs(s2 - s1) <= math.ulp(s1), s"scale drifted: $s1 vs $s2")
    }
    // quantized-vs-exact cosine error small at uniform per-vector scale
    val probe = array(Seq.fill(16)(lit(0.5)): _*)
    val worst = vecs.filter(col("i") =!= 200)
      .select(abs(Sq8.cosine(Sq8.encode(col("v")), probe) -
        CosineSimilarity.of(col("v"), probe)).as("d"))
      .agg(max("d")).collect()(0).getDouble(0)
    assert(worst < 0.03, s"worst quantized-cosine error $worst")
  }
}
