package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

import scala.collection.mutable.ArrayBuffer

/** Seeded generator of single-object CMS in-network MRF documents, with
  * the exact answer to every gold lookup derived from the same model
  * the bytes are written from (never from the pipeline's output).
  *
  * Every attribute of a document is a pure function of
  * (seed, file, position) through [[MrfGen.h]], so the generator streams
  * the document without holding it and [[Doc.expectedGold]] re-derives
  * any item on demand. Items with billing code `c` are exactly the
  * positions `i ≡ c (mod codes)`, which makes a lookup's answer a short
  * enumeration instead of a scan.
  *
  * Grammar of one document (all ASCII, compact JSON):
  *   - header scalars (entity name carrying a `\"` escape), then
  *     `provider_references`, then `in_network`, then a trailing
  *     `version` member the splitter must fold into the header;
  *   - provider groups `1..groups` with one or two inline entries each
  *     (npi lists of one to three, a seeded TIN), plus one remote
  *     `location` group `groups + 1` that rates may reference;
  *   - in_network items: one in eight is a `bundle` with two
  *     `bundled_codes`; each item has one to three rates, one in five of
  *     them with inline `provider_groups`, the rest with two
  *     `provider_references`; each rate has one or two prices, a
  *     quarter of them of a type other than `negotiated`; descriptions
  *     carry `\"`, `\\`, `\/`, `\n`, `é` and the structural
  *     characters `],{` inside the string.
  */
object MrfGen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Non-negative hash of a seed and a position path. */
  def h(seed: Long, parts: Long*): Long = {
    var z = mix(seed)
    parts.foreach(p => z = mix(z ^ p))
    z & Long.MaxValue
  }

  /** The gold columns the benchmark compares (7 of the 12), with the
    * nullable `provider_group_id` as -1 and the npi list in source order.
    */
  final case class GoldRow(
      fileName: String, entity: String, billingCode: String, rate: Double,
      groupId: Long, npi: Seq[Long], tin: String)

  implicit val goldOrdering: Ordering[GoldRow] =
    Ordering.by((r: GoldRow) =>
      (r.fileName, r.billingCode, r.rate, r.groupId, r.npi.mkString(","), r.tin))

  /** Row counts the pipeline must reproduce for one document. */
  final case class Counts(
      refElements: Long, items: Long, chunks: Long, splitBytes: Long,
      providersXPayer: Long, rates: Long, prices: Long, parProviders: Long,
      rateProviderGroups: Long, bundledCodes: Long) {
    def +(o: Counts): Counts = Counts(
      refElements + o.refElements, items + o.items, chunks + o.chunks,
      splitBytes + o.splitBytes, providersXPayer + o.providersXPayer, rates + o.rates,
      prices + o.prices, parProviders + o.parProviders,
      rateProviderGroups + o.rateProviderGroups, bundledCodes + o.bundledCodes)
  }

  /** Shape parameters of one document; `items` is fixed by the byte
    * target at generation time.
    */
  final case class Shape(seed: Long, file: Int, groups: Int, codes: Int, tins: Int)

  def codeOf(c: Long): String = (10000 + c).toString
  def tinName(t: Long): String = "T" + t
  def entityName(file: Int): String = s"""Payer "$file" Health"""
}

/** One generated document: its shape, item count and counts. */
final case class Doc(shape: MrfGen.Shape, items: Int, fileName: String, counts: MrfGen.Counts) {
  import MrfGen._
  private def hh(parts: Long*): Long = h(shape.seed, (shape.file.toLong +: parts): _*)

  def entries(g: Long): Int = 1 + (hh(1, g) % 2).toInt
  def entryNpis(g: Long, e: Int): Seq[Long] =
    (0 until 1 + (hh(2, g, e) % 3).toInt).map(k => 1000000000L + g * 100 + e * 10 + k)
  def entryTin(g: Long, e: Int): String = tinName(hh(3, g, e) % shape.tins)

  def code(i: Long): String = codeOf(i % shape.codes)
  def isBundle(i: Long): Boolean = hh(4, i) % 8 == 0
  def rateCount(i: Long): Int = 1 + (hh(5, i) % 3).toInt
  def isInline(i: Long, j: Int): Boolean = hh(6, i, j) % 5 == 0
  def refs(i: Long, j: Int): Seq[Long] =
    Seq(1 + hh(7, i, j) % (shape.groups + 1), 1 + hh(8, i, j) % (shape.groups + 1))
  def inlineCount(i: Long, j: Int): Int = 1 + (hh(9, i, j) % 2).toInt
  def inlineNpis(i: Long, j: Int, k: Int): Seq[Long] = Seq(2000000000L + i * 10 + j * 3 + k)
  def inlineTin(i: Long, j: Int, k: Int): String = tinName(hh(10, i, j, k) % shape.tins)
  def priceCount(i: Long, j: Int): Int = 1 + (hh(11, i, j) % 2).toInt
  def isNegotiated(i: Long, j: Int, p: Int): Boolean = hh(12, i, j, p) % 4 != 0
  def priceRate(i: Long, j: Int, p: Int): Double = (hh(13, i, j, p) % 500000) / 100.0

  /** Exact gold answer for (billing code, TIN), in [[MrfGen.goldOrdering]]. */
  def expectedGold(billingCode: String, tin: String): Seq[GoldRow] = {
    val c = billingCode.toLong - 10000
    if (c < 0 || c >= shape.codes) return Nil
    val out = ArrayBuffer.empty[GoldRow]
    val entity = entityName(shape.file)
    var i = c
    while (i < items) {
      if (!isBundle(i)) for (j <- 0 until rateCount(i); p <- 0 until priceCount(i, j)
          if isNegotiated(i, j, p)) {
        val rate = priceRate(i, j, p)
        if (isInline(i, j)) {
          for (k <- 0 until inlineCount(i, j) if inlineTin(i, j, k) == tin)
            out += GoldRow(fileName, entity, billingCode, rate, -1L, inlineNpis(i, j, k), tin)
        } else {
          for (g <- refs(i, j) if g <= shape.groups; e <- 0 until entries(g)
              if entryTin(g, e) == tin)
            out += GoldRow(fileName, entity, billingCode, rate, g, entryNpis(g, e), tin)
        }
      }
      i += shape.codes
    }
    out.toSeq
  }

  /** A seeded (billing code, TIN) pair. A hit is drawn from a
    * negotiated price of an existing ffs item, so it returns rows; a
    * miss is an unknown code or an unknown TIN and returns none.
    */
  def lookupPair(rnd: scala.util.Random, hit: Boolean): (String, String) =
    if (!hit) {
      if (rnd.nextBoolean()) (codeOf(shape.codes + 1 + rnd.nextInt(1000)), tinName(0))
      else (code(rnd.nextInt(items).toLong), "T-unknown")
    } else {
      var pair: Option[(String, String)] = None
      while (pair.isEmpty) {
        val i = rnd.nextInt(items).toLong
        val j = rnd.nextInt(rateCount(i))
        if (!isBundle(i) && (0 until priceCount(i, j)).exists(isNegotiated(i, j, _))) {
          val tins =
            if (isInline(i, j)) (0 until inlineCount(i, j)).map(inlineTin(i, j, _))
            else for (g <- refs(i, j) if g <= shape.groups; e <- 0 until entries(g))
              yield entryTin(g, e)
          if (tins.nonEmpty) pair = Some((code(i), tins(rnd.nextInt(tins.size))))
        }
      }
      pair.get
    }
}

object Doc {
  import MrfGen._

  /** Streams one document of at least `targetBytes` to `out` (closed by
    * the caller). `chunkBytes`/`maxElements` are the source's splitter
    * options, so the expected chunk count follows its cut rule: a chunk
    * closes once its span (elements plus the separators between them)
    * reaches `chunkBytes` or it holds `maxElements` elements.
    */
  def write(
      shape: Shape, targetBytes: Long, fileName: String, out: OutputStream,
      chunkBytes: Long, maxElements: Int): Doc = {
    val w = new BufferedOutputStream(out, 1 << 20)
    var bytes = 0L
    def put(s: String): Unit = { w.write(s.getBytes(US_ASCII)); bytes += s.length }
    // cut-rule replay per top-level array
    var chunks = 0L
    var splitBytes = 0L
    var span = -1L
    var elems = 0
    var first = true
    def element(s: String): Unit = {
      if (!first) put(",")
      first = false
      span = if (span < 0) s.length else span + 1 + s.length
      put(s)
      elems += 1
      if (span >= chunkBytes || elems >= maxElements) closeChunk()
    }
    def closeChunk(): Unit =
      if (elems > 0) { chunks += 1; splitBytes += span; span = -1L; elems = 0 }
    def endArray(): Unit = { closeChunk(); first = true }

    val proto = Doc(shape, 0, fileName, null)
    val f = shape.file
    put(s"""{"reporting_entity_name":"Payer \\"$f\\" Health","reporting_entity_type":"payer",""")
    put(s""""plan_name":"plan $f","plan_id_type":"EIN","plan_id":"${100000 + f}",""")
    put(""""plan_market_type":"group","last_updated_on":"2026-01-01","provider_references":[""")
    var pxp = 0L
    val sb = new java.lang.StringBuilder(2048)
    for (g <- 1L to shape.groups) {
      sb.setLength(0)
      sb.append("{\"provider_group_id\":").append(g).append(",\"provider_groups\":[")
      for (e <- 0 until proto.entries(g)) {
        if (e > 0) sb.append(',')
        sb.append("{\"npi\":[").append(proto.entryNpis(g, e).mkString(","))
          .append("],\"tin\":{\"type\":\"ein\",\"value\":\"").append(proto.entryTin(g, e))
          .append("\"}}")
        pxp += 1
      }
      sb.append("]}")
      element(sb.toString)
    }
    element(s"""{"provider_group_id":${shape.groups + 1},"location":"https://example.org/groups/$f.json"}""")
    pxp += 1
    endArray()
    put("""],"in_network":[""")

    var i = 0L
    var rates, prices, par, rpg, bundled = 0L
    while (bytes < targetBytes - 32) {
      sb.setLength(0)
      val bundle = proto.isBundle(i)
      sb.append("{\"negotiation_arrangement\":\"").append(if (bundle) "bundle" else "ffs")
        .append("\",\"name\":\"ITEM ").append(i)
        .append("\",\"billing_code_type\":\"CPT\",\"billing_code_type_version\":\"2026\",")
        .append("\"billing_code\":\"").append(proto.code(i))
        .append("\",\"description\":\"item \\\"").append(i)
        .append("\\\" a\\\\b \\/c \\u00e9\\n],{x\",\"negotiated_rates\":[")
      for (j <- 0 until proto.rateCount(i)) {
        if (j > 0) sb.append(',')
        rates += 1
        sb.append('{')
        if (proto.isInline(i, j)) {
          sb.append("\"provider_groups\":[")
          for (k <- 0 until proto.inlineCount(i, j)) {
            if (k > 0) sb.append(',')
            sb.append("{\"npi\":[").append(proto.inlineNpis(i, j, k).mkString(","))
              .append("],\"tin\":{\"type\":\"ein\",\"value\":\"").append(proto.inlineTin(i, j, k))
              .append("\"}}")
            rpg += 1
          }
          sb.append("],")
        } else {
          sb.append("\"provider_references\":[").append(proto.refs(i, j).mkString(",")).append("],")
          par += 2
        }
        sb.append("\"negotiated_prices\":[")
        for (p <- 0 until proto.priceCount(i, j)) {
          if (p > 0) sb.append(',')
          val neg = proto.isNegotiated(i, j, p)
          if (neg) prices += 1
          sb.append("{\"negotiated_type\":\"").append(if (neg) "negotiated" else "fee schedule")
            .append("\",\"negotiated_rate\":").append(proto.priceRate(i, j, p))
            .append(",\"expiration_date\":\"9999-12-31\",\"service_code\":[\"11\",\"22\"],")
            .append("\"billing_class\":\"").append(if (p == 0) "professional" else "institutional")
            .append("\"}")
        }
        sb.append("]}")
      }
      sb.append(']')
      if (bundle) {
        sb.append(",\"bundled_codes\":[")
        for (b <- 0 until 2) {
          if (b > 0) sb.append(',')
          sb.append("{\"billing_code_type\":\"CPT\",\"billing_code_type_version\":\"2026\",")
            .append("\"billing_code\":\"B").append(i * 2 + b)
            .append("\",\"description\":\"part \\\"").append(b).append("\\\"\"}")
        }
        sb.append(']')
        bundled += 2
      }
      sb.append('}')
      element(sb.toString)
      i += 1
    }
    endArray()
    put("""],"version":"1.0.0"}""")
    w.flush()
    Doc(shape, i.toInt, fileName, Counts(
      refElements = shape.groups + 1L, items = i, chunks = chunks, splitBytes = splitBytes,
      providersXPayer = pxp, rates = rates, prices = prices, parProviders = par,
      rateProviderGroups = rpg, bundledCodes = bundled))
  }

  /** Writes the document to `path`, gzip-compressed when it ends in `.gz`;
    * `fileName` is the name the source reports for it (the decompressed
    * name for an archive).
    */
  def writeFile(
      shape: Shape, targetBytes: Long, path: java.nio.file.Path,
      chunkBytes: Long, maxElements: Int): Doc = {
    val name = path.getFileName.toString
    val raw = new FileOutputStream(path.toFile)
    val out =
      if (name.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw, 1 << 16) else raw
    try write(shape, targetBytes, name.stripSuffix(".gz"), out, chunkBytes, maxElements)
    finally out.close()
  }
}
