package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Splitting invariant (SURVEY.md §5): for ANY document and ANY
  * buffer/chunk sizing, re-assembling the emitted chunks reproduces the
  * original top-level arrays element-for-element and the original header
  * members exactly. Jackson (on Spark's classpath) is the parse oracle.
  */
class JsonSplitterSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def split(
      doc: String,
      opts: JsonSplitter.Options = JsonSplitter.Options()): Seq[JsonSplitter.Chunk] = {
    val out = mutable.ArrayBuffer.empty[JsonSplitter.Chunk]
    new JsonSplitter(new ByteArrayInputStream(doc.getBytes(UTF_8)), opts).run(out += _)
    out.toSeq
  }

  /** Parse chunks back and compare against the original document. */
  private def roundTrip(doc: String, opts: JsonSplitter.Options): Unit = {
    val bytes = doc.getBytes(UTF_8)
    val chunks = split(doc, opts)
    val original = mapper.readTree(doc).asInstanceOf[ObjectNode]

    // 1. array chunks, concatenated per key in order == original arrays
    val rebuilt = mutable.LinkedHashMap.empty[String, ArrayNode]
    chunks.foreach {
      case JsonSplitter.ArrayChunk(key, start, end, n) =>
        assert(end > start, s"empty chunk for $key")
        val payload = "[" + new String(bytes, start.toInt, (end - start).toInt, UTF_8) + "]"
        val arr = mapper.readTree(payload).asInstanceOf[ArrayNode]
        assert(arr.size() == n, s"declared $n elements, parsed ${arr.size()}")
        val acc = rebuilt.getOrElseUpdate(key, mapper.createArrayNode())
        acc.addAll(arr)
        // the executor-side element re-splitter agrees with the parse
        val el = JsonSplitter.splitTopLevelElements(bytes, start.toInt, end.toInt)
        assert(el.size == n)
        el.zipWithIndex.foreach { case ((s0, e0), i) =>
          assert(mapper.readTree(new String(bytes, s0, e0 - s0, UTF_8)) == arr.get(i))
        }
      case _ => ()
    }
    // 2. header chunk == original minus arrays
    val headers = chunks.collect { case JsonSplitter.HeaderChunk(j) => j }
    assert(headers.size <= 1)
    val expectedHeader = original.deepCopy[ObjectNode]()
    val arrayKeys = mutable.ArrayBuffer.empty[String]
    val it = original.fieldNames()
    while (it.hasNext) {
      val k = it.next()
      if (original.get(k).isArray) arrayKeys += k
    }
    arrayKeys.foreach(expectedHeader.remove)
    if (expectedHeader.size() > 0) {
      assert(headers.nonEmpty, "missing header chunk")
      assert(mapper.readTree(headers.head) == expectedHeader)
    } else assert(headers.isEmpty)
    // 3. every top-level array reproduced exactly
    arrayKeys.foreach { k =>
      val orig = original.get(k).asInstanceOf[ArrayNode]
      if (orig.size() == 0) assert(!rebuilt.contains(k))
      else assert(rebuilt(k) == orig, s"array $k differs")
    }
    // 4. byte-exact parity of the two sides of the split: re-splitting
    // the chunk ranges gives exactly the ranges the streaming splitter
    // cuts one element at a time
    def ranges(cs: Seq[JsonSplitter.Chunk]): Map[String, Seq[(Long, Long)]] =
      cs.collect { case c: JsonSplitter.ArrayChunk => c }.groupBy(_.headerKey)
        .map { case (k, v) => k -> v.map(c => (c.start, c.end)) }
    val perElement = ranges(split(doc, opts.copy(maxElementsPerChunk = 1)))
    val resplit = ranges(chunks).map { case (k, rs) =>
      k -> rs.flatMap { case (s, e) =>
        JsonSplitter.splitTopLevelElements(bytes, s.toInt, e.toInt)
          .map { case (s0, e0) => (s0.toLong, e0.toLong) }
      }
    }
    assert(resplit == perElement)
  }

  private val cmsDoc =
    """{
      |  "reporting_entity_name": "graft test payer",
      |  "reporting_entity_type": "payer",
      |  "last_updated_on": "2026-08-01",
      |  "version": "1.0.0",
      |  "provider_references": [
      |    {"provider_group_id": 1, "provider_groups": [{"npi": [1111111111, 2222222222], "tin": {"type": "ein", "value": "11-1111111"}}]},
      |    {"provider_group_id": 2, "provider_groups": [{"npi": [3333333333], "tin": {"type": "ein", "value": "22-2222222"}}]},
      |    {"provider_group_id": 3, "location": "https://example.test/groups/3.json"}
      |  ],
      |  "in_network": [
      |    {"negotiation_arrangement": "ffs", "name": "KNEE ARTHROPLASTY", "billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "27447", "description": "total knee", "negotiated_rates": [{"provider_references": [1, 2], "negotiated_prices": [{"negotiated_type": "negotiated", "negotiated_rate": 123.45, "expiration_date": "9999-12-31", "service_code": ["21", "22"], "billing_class": "institutional"}]}]},
      |    {"negotiation_arrangement": "ffs", "name": "ESCAPES \"quoted\" ] } [ { value", "billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "99213", "description": "brackets-in-strings \\ test", "negotiated_rates": [{"provider_references": [3], "negotiated_prices": [{"negotiated_type": "negotiated", "negotiated_rate": 88.1, "expiration_date": "9999-12-31", "service_code": ["11"], "billing_class": "professional"}]}]}
      |  ],
      |  "plan_name": "trailing header member"
      |}""".stripMargin

  test("CMS-shaped document round-trips at default options") {
    roundTrip(cmsDoc, JsonSplitter.Options())
  }

  test("round-trips at adversarial buffer sizes (1,2,3,7 bytes)") {
    for (bs <- Seq(1, 2, 3, 7, 13, 64))
      roundTrip(cmsDoc, JsonSplitter.Options(bufferSize = bs))
  }

  test("chunk cutting: maxElementsPerChunk=1 gives one chunk per element") {
    val chunks = split(cmsDoc, JsonSplitter.Options(maxElementsPerChunk = 1))
    val byKey = chunks.collect { case c: JsonSplitter.ArrayChunk => c }.groupBy(_.headerKey)
    assert(byKey("provider_references").size == 3)
    assert(byKey("in_network").size == 2)
    assert(byKey.values.flatten.forall(_.elements == 1))
  }

  test("chunk boundaries are independent of buffer size (determinism)") {
    val a = split(cmsDoc, JsonSplitter.Options(chunkTargetBytes = 100, bufferSize = 1))
    val b = split(cmsDoc, JsonSplitter.Options(chunkTargetBytes = 100, bufferSize = 1 << 20))
    assert(a == b)
  }

  test("empty arrays, empty object, scalar-only arrays, long keys") {
    roundTrip("""{"empty": [], "n": 1}""", JsonSplitter.Options())
    assert(split("{}", JsonSplitter.Options()).isEmpty)
    roundTrip("""{"ints": [1, 2, 3, -4.5e2, true, null, "s"]}""", JsonSplitter.Options(maxElementsPerChunk = 2))
    // reference caps keys at 25 chars (ByteParser.scala:36); we must not
    val longKey = "k" * 300
    val chunks = split(s"""{"$longKey": [ {"a": 1} ]}""", JsonSplitter.Options())
    assert(chunks.collect { case c: JsonSplitter.ArrayChunk => c.headerKey } == Seq(longKey))
  }

  test("header-only document and array-only document") {
    roundTrip("""{"a": "x", "b": {"c": [1,2]}}""", JsonSplitter.Options()) // nested array not split
    roundTrip("""{"arr": [{"x": 1}]}""", JsonSplitter.Options()) // no header chunk
  }

  test("unicode and escaped keys") {
    roundTrip("""{"héader": "väl", "arr\"x": [{"ü": "\n\t"}]}""", JsonSplitter.Options())
    val chunks = split("""{"arr\"x": [1]}""", JsonSplitter.Options())
    assert(chunks.collect { case c: JsonSplitter.ArrayChunk => c.headerKey } == Seq("arr\"x"))
  }

  test("UTF-8 BOM is tolerated") {
    val chunks = split("\uFEFF" + """{"a": 1, "arr": [2, 3]}""", JsonSplitter.Options())
    assert(chunks.collect { case c: JsonSplitter.ArrayChunk => c.headerKey } == Seq("arr"))
    assert(chunks.collect { case JsonSplitter.HeaderChunk(j) => mapper.readTree(j) } ==
      Seq(mapper.readTree("""{"a": 1}""")))
  }

  test("maxResidueBytes fails DURING buffering, not after") {
    // one pathological multi-GB member must die at the cap, not OOM
    // first and check second — simulate with a tiny cap and a member
    // far larger than it
    val big = "x" * 10000
    val doc = s"""{"huge": "$big", "a": [1]}"""
    val e = intercept[IllegalArgumentException](
      split(doc, JsonSplitter.Options(maxResidueBytes = 100)))
    assert(e.getMessage.contains("maxResidueBytes"), e.getMessage)
    // and a well-under-cap doc still parses
    roundTrip(doc, JsonSplitter.Options(maxResidueBytes = 64L << 20))
  }

  test("malformed input fails with position info") {
    val e = intercept[IllegalArgumentException](split("""{"a": [1, 2""", JsonSplitter.Options()))
    assert(e.getMessage.contains("malformed JSON"))
    intercept[IllegalArgumentException](split("""[1,2]""", JsonSplitter.Options()))
    intercept[IllegalArgumentException](split("""{"a" 1}""", JsonSplitter.Options()))
    // a delimiter where a value should start, an unquoted key, and EOF
    // inside a string or a scalar. The last two fail only through the
    // splitter's own checks: the lexer alone takes a stray `]` or a bare
    // key as a scalar
    for (doc <- Seq("""{"a":[1,]}""", """{"a":[}""", """{a:1}""", """{"a":"x""", """{"a":tru""",
           """{"a":[1,]]}""", """{a :1}""")) {
      val e = intercept[IllegalArgumentException](split(doc, JsonSplitter.Options()))
      assert(e.getMessage.contains("malformed JSON"), s"$doc: ${e.getMessage}")
    }
  }

  // ---------- property-based invariant ----------

  private val genScalar: Gen[String] = Gen.oneOf(
    Gen.chooseNum(-1000000, 1000000).map(_.toString),
    Gen.chooseNum(-1000.0, 1000.0).map(d => f"$d%.4f"),
    Gen.const("true"),
    Gen.const("false"),
    Gen.const("null"),
    Gen.alphaNumStr.map(s => mapper.writeValueAsString(s + " \"q\" \\ ]}{[ é✓\n\t")),
    Gen.alphaNumStr.map(mapper.writeValueAsString))

  private def genValue(depth: Int): Gen[String] =
    if (depth <= 0) genScalar
    else
      Gen.frequency(
        3 -> genScalar,
        1 -> Gen.listOfN(2, genValue(depth - 1)).map(_.mkString("[", ",", "]")),
        1 -> (for {
          vs <- Gen.listOfN(2, genValue(depth - 1))
          ks <- Gen.listOfN(2, Gen.identifier)
        } yield ks.distinct.zip(vs).map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}")))

  private val genDoc: Gen[String] = for {
    nMembers <- Gen.chooseNum(0, 5)
    keys <- Gen.listOfN(nMembers, Gen.identifier.suchThat(_.nonEmpty)).map(_.distinct)
    kinds <- Gen.listOfN(keys.size, Gen.chooseNum(0, 2))
    values <- Gen.sequence[List[String], String](keys.zip(kinds).map {
      case (_, 0) => genValue(2) // header member
      case (_, 1) => Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genValue(2)).map(_.mkString("[ ", " ,\n ", " ]")))
      case (_, 2) => Gen.const("[]")
    })
    ws <- Gen.oneOf("", " ", "\n  ")
  } yield keys.zip(values).map { case (k, v) => s"""$ws"$k"$ws:$ws$v""" }.mkString("{", s",$ws", s"$ws}")

  /** Run the splitter over a truncated byte prefix, collecting whatever
    * chunks it emits before (possibly) throwing on the corrupt tail.
    */
  private def splitTruncated(
      bytes: Array[Byte], t: Int, opts: JsonSplitter.Options): Seq[JsonSplitter.Chunk] = {
    val out = mutable.ArrayBuffer.empty[JsonSplitter.Chunk]
    try new JsonSplitter(new ByteArrayInputStream(bytes.take(t)), opts).run(out += _)
    catch { case _: Exception => () }
    out.toSeq
  }

  test("truncation at EVERY byte yields a strict prefix of the full chunk stream (or throws)") {
    // the ignoreCorruptFiles contract: a file cut off mid-upload must
    // never produce a chunk the complete file would not have produced —
    // emitted chunks depend only on bytes BEFORE the cut (forward-only
    // splitter), so the emitted sequence is a strict prefix of the full
    // file's, never a divergent range. Exhaustive over every truncation
    // point of the CMS fixture (the source-level corrupt-prefix test
    // covers one point; this covers them all) × chunk sizings.
    val optVariants = Seq(
      JsonSplitter.Options(maxElementsPerChunk = 1),
      JsonSplitter.Options(chunkTargetBytes = 60, bufferSize = 3),
      JsonSplitter.Options(chunkTargetBytes = 40, bufferSize = 2, maxElementsPerChunk = 3),
      JsonSplitter.Options())
    // the third doc is a pinned ScalaCheck counterexample: truncation
    // mid-`null` landed exactly on an element-count chunk boundary, and
    // scanScalar's old EOF-as-delimiter behavior emitted a chunk with a
    // divergent end offset before the EOF failure
    for (doc <- Seq(cmsDoc, """{"a":[1,2,3],"h":"x","b":[{"y":[1]},{"z":2}]}""",
           "{\n  \"ppLC\"\n  :\n  {\"ulRuuAL\":true,\"zi3RR0K3\":[true,\"J0sqEk\"]},\n  \n  " +
             "\"r74lwuj7t3tn\"\n  :\n  [ null ,\n [false,[-1.0000,true]] ,\n null ,\n " +
             "{\"d3P\":false,\"cDDZr\":\"DJA\"} ,\n \"G8x\" ,\n \"1Q4rw1qYv7\" ,\n " +
             "{\"wSqfEHsx\":[\"PQ4x0TpoX \\\"q\\\" \\\\ ]}{[ é✓\\n\\t\",null],\"lbKR7T\":false} ,\n " +
             "714715 ],\n  \n  \"t1SY\"\n  :\n  []\n  }");
         opts <- optVariants) {
      val bytes = doc.getBytes(UTF_8)
      val full = split(doc, opts)
      for (t <- 1 until bytes.length) {
        val got = splitTruncated(bytes, t, opts)
        assert(got == full.take(got.size),
          s"truncation at byte $t diverged under $opts:\n got:  $got\n want: ${full.take(got.size)}")
      }
    }
  }

  test("property: truncation prefix invariant holds for random docs") {
    val opts = JsonSplitter.Options(chunkTargetBytes = 40, bufferSize = 2, maxElementsPerChunk = 3)
    val prop = Prop.forAll(
      genDoc.flatMap(d => Gen.chooseNum(1, math.max(1, d.getBytes(UTF_8).length - 1)).map((d, _)))) {
      case (doc, t) =>
        val bytes = doc.getBytes(UTF_8)
        val full = split(doc, opts)
        val got = splitTruncated(bytes, t, opts)
        got == full.take(got.size)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  /** A chunk payload: random elements joined by random whitespace
    * around the commas, and the padding around it in its buffer.
    */
  private val genElementRun: Gen[(List[String], String, String)] = {
    val genWs = Gen.oneOf("", " ", "\n", " \n\t ")
    for {
      els <- Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genValue(2)))
      wsL <- genWs
      wsR <- genWs
      pad <- Gen.alphaNumStr
    } yield (els, els.mkString(s"$wsL,$wsR"), pad)
  }

  test("property: splitTopLevelElements recovers every element of a chunk payload") {
    // the executor-side re-split (payloadAsArray / perElement path) gets
    // the same adversarial coverage as the driver-side splitter: random
    // values, random inter-element whitespace, offset window into a
    // padded buffer
    val prop = Prop.forAllNoShrink(genElementRun) { case (els, payload, pad) =>
      val bytes = (pad + payload + pad).getBytes("UTF-8")
      val from = pad.getBytes("UTF-8").length
      val until = from + payload.getBytes("UTF-8").length
      val got = JsonSplitter.splitTopLevelElements(bytes, from, until)
        .map { case (s, e) => new String(bytes, s, e - s, "UTF-8") }
      got.size == els.size &&
        got.zip(els).forall { case (g, e) => mapper.readTree(g) == mapper.readTree(e) }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: splitTopLevelElements cuts arbitrary bytes into well-formed ranges") {
    // MrfElements reads any bronze string, so the lenient re-split must
    // stay total on text that is not JSON: every range non-empty, in
    // order, inside the window, with only whitespace and commas between
    val genGarbage: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("{}[]\",:\\".toSeq),
      2 -> Gen.alphaChar,
      1 -> Gen.oneOf(" \n\t\r".toSeq))).map(_.mkString)
    val prop = Prop.forAllNoShrink(genGarbage, Gen.alphaNumStr) { (text, pad) =>
      val bytes = (pad + text + pad).getBytes(UTF_8)
      val from = pad.length
      val until = from + text.length
      val got = JsonSplitter.splitTopLevelElements(bytes, from, until)
      val gaps = (from +: got.map(_._2)).zip(got.map(_._1) :+ until)
      got.forall { case (s, e) => s < e } &&
        gaps.forall { case (a, b) =>
          a <= b && (a until b).forall(i => " \n\t\r,".contains(bytes(i).toChar))
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: MrfElements cuts chunk text into byte-equal zero-copy element slices") {
    val prop = Prop.forAllNoShrink(genElementRun) { case (els, payload, pad) =>
      // the chunk text "[…]" sits inside a padded buffer, as a row's
      // string does inside its row buffer
      val bytes = (pad + "[" + payload + "]" + pad).getBytes("UTF-8")
      val text = "[" + payload + "]"
      val chunk = UTF8String.fromBytes(bytes, pad.getBytes("UTF-8").length,
        text.getBytes("UTF-8").length)
      val got = MrfElements.elements(chunk).toArray[UTF8String](StringType)
      got.map(_.toString).toList == els && got.forall(_.getBaseObject eq bytes)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("MrfElements: other text is one element as it is, null is null") {
    val obj = UTF8String.fromString("""{"a": [1, 2], "b": "]"}""")
    val one = MrfElements.elements(obj)
    assert(one.numElements() == 1 && (one.getUTF8String(0) eq obj))
    assert(MrfElements(Literal.create(null, StringType)).eval() == null)
    // a stray closing bracket is one malformed element, not a hang
    assert(MrfElements.elements(UTF8String.fromString("[1,],2]"))
      .toArray[UTF8String](StringType).map(_.toString).toSeq == Seq("1", "]", "2"))
  }

  test("property: round-trip holds for random docs × buffer × chunk sizes") {
    val prop = Prop.forAll(
      genDoc,
      Gen.oneOf(1, 2, 3, 5, 8, 64, 1 << 16),
      Gen.oneOf(1L, 16L, 64L, 1L << 20),
      Gen.oneOf(1, 2, 7, 10000)) { (doc, bs, ct, me) =>
      roundTrip(doc, JsonSplitter.Options(
        bufferSize = bs, chunkTargetBytes = ct, maxElementsPerChunk = me))
      true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }
}
