package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of raw Harvard-API `/object` records in the shape of
  * FIXTURES.md §A.1, one JSON object per line.
  *
  * Every record is a pure function of `(seed, id)`, so a re-sent id is a
  * byte-identical copy of its first arrival and the INSERT IGNORE survivor
  * does not depend on which copy wins. The records cover the ETL's edge
  * cases (missing keys, explicit and long null-able descriptions, no or more
  * than five colors, NaN/±Infinity percents, empty vs null culture) and hit
  * every literal the 20 reference templates filter on.
  */
final class ArtifactGen(seed: Long) {
  import ArtifactGen._

  private def rng(id: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ (id * 0x9E3779B97F4A7C15L) ^ salt))

  def record(id: Long): Rec = {
    val r = rng(id, 1L)
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def chance(p: Double): Boolean = r.nextDouble() < p
    val f = new FieldWriter
    f.raw("id", id.toString)
    f.str("title", s"${pick(Adjectives)} ${pick(Nouns)} of ${pick(Names)}" +
      (if (chance(0.02)) " \"attributed\"" else ""))
    // culture: present, empty string, explicit null, or missing (the app
    // distinguishes '' from NULL in template 2)
    r.nextInt(100) match {
      case k if k < 4 => f.str("culture", "")
      case k if k < 7 => f.raw("culture", "null")
      case k if k < 10 => ()
      case _ => f.str("culture", pick(Cultures))
    }
    if (!chance(0.15)) f.str("period", pick(Periods))
    f.str("century", pick(Centuries))
    if (!chance(0.1)) f.str("medium", pick(Media))
    if (!chance(0.1)) {
      val mm = 10 + r.nextInt(900)
      f.str("dimensions", s"${mm / 10}.${mm % 10} cm")
    }
    val desc: Option[String] = r.nextInt(100) match {
      case k if k < 10 => f.raw("description", "null"); None
      case k if k < 18 => None
      case k if k < 30 =>
        Some(sentence(r, 501 + r.nextInt(400))) // truncated to 500 by the ETL
      case _ => Some(sentence(r, 20 + r.nextInt(300)))
    }
    desc.foreach(f.str("description", _))
    f.str("department", pick(Departments))
    f.str("classification", classification(id))
    r.nextInt(100) match {
      case k if k < 8 => ()
      case k if k < 12 => f.raw("accessionyear", "null")
      case _ => f.raw("accessionyear", (1890 + r.nextInt(135)).toString)
    }
    if (!chance(0.1)) f.str("accessionmethod", pick(Methods))
    if (!chance(0.05)) f.raw("imagecount", r.nextInt(6).toString)
    if (!chance(0.05)) f.raw("mediacount", r.nextInt(4).toString)
    val nColors = r.nextInt(100) match {
      case k if k < 8 => -1 // no colors key
      case k if k < 12 => 0
      case k if k < 22 => 6 + r.nextInt(3) // more than five: sliced by the ETL
      case _ => 1 + r.nextInt(5)
    }
    f.raw("colorcount", math.max(nColors, 0).toString)
    val rank = if (chance(0.02)) 1 + r.nextInt(10) else 11 + r.nextInt(200000)
    f.raw("rank", rank.toString)
    if (!chance(0.1)) {
      val begin = if (chance(0.2)) 1500 + r.nextInt(101) else -800 + r.nextInt(2800)
      f.raw("datebegin", begin.toString)
      f.raw("dateend", (begin + r.nextInt(120)).toString)
    }
    var nonFinite = 0
    if (nColors >= 0) {
      val cs = (0 until nColors).map { i =>
        val c = new FieldWriter
        c.str("spectrum", pick(Palette))
        if (!chance(0.05)) c.str("hue", pick(Hues))
        c.str("color", pick(Palette))
        val k = r.nextInt(100)
        if (k < 3 && i < MaxColors) nonFinite += 1
        c.raw("percent", k match {
          case 0 => "NaN"
          case 1 => "Infinity"
          case 2 => "-Infinity"
          case _ => (r.nextInt(10000) / 10000.0).toString
        })
        c.str("css3", pick(Palette))
        c.result
      }
      f.raw("colors", cs.mkString("[", ",", "]"))
    }
    Rec(f.result, math.max(nColors, 0).min(MaxColors), nonFinite,
      desc.exists(_.length >= MaxDescription))
  }

  /** Page `p` (0-based) of the app's initial load: one classification per
    * page, `PageRecords` distinct well-formed records. */
  def appPage(p: Int): Seq[String] =
    (1L to PageRecords).map(k => record(p.toLong * PageRecords + k).json)

  /** The stream of bulk-ingest pages: `PageRecords` lines each, about 20%
    * of them re-sending an id offered before (on this or an earlier page)
    * and about 1% malformed. Stateful: pages come in order, and the same
    * seed yields the same pages. */
  final class Feed {
    private val r = rng(0L, 2L)
    private var nextId = 1L
    /** Ids offered in well-formed lines so far. */
    val offered = mutable.BitSet.empty

    def next(): Seq[String] =
      (0 until PageRecords).map { _ =>
        val k = r.nextInt(1000)
        if (k < 10) malformed(r)
        else if (k < 210 && nextId > 1) record(1 + r.nextLong(nextId - 1)).json
        else {
          val id = nextId
          nextId += 1
          offered += id.toInt
          record(id).json
        }
      }

    private def malformed(r: SplittableRandom): String =
      if (r.nextInt(4) == 0) Garbage(r.nextInt(Garbage.size))
      else {
        val full = record(nextId + 1000000L + r.nextInt(1000)).json
        full.substring(0, 1 + r.nextInt(full.length - 2)) // never the closing brace
      }
  }

  /** Expected shape of the stored tables after `ids` were ingested. */
  def expectations(ids: Iterable[Int]): Map[String, Long] = {
    var colors, nonFinite, atCap = 0L
    ids.foreach { id =>
      val rec = record(id.toLong)
      colors += rec.colorsKept
      nonFinite += rec.nonFiniteKept
      if (rec.descAtCap) atCap += 1
    }
    Map("records" -> ids.size.toLong, "colors_rows" -> colors,
        "null_percent" -> nonFinite, "desc_at_cap" -> atCap)
  }
}

object ArtifactGen {
  /** The facts about one record that the stored tables must reflect. */
  final case class Rec(json: String, colorsKept: Int, nonFiniteKept: Int,
                       descAtCap: Boolean)

  val PageRecords = 2500
  val MaxColors = 5
  val MaxDescription = 500

  val Classes: IndexedSeq[String] =
    IndexedSeq("Coins", "Paintings", "Photographs", "Prints", "Vessels")

  /** Classification is a function of the id's 2,500-record block, so the
    * app's five pages are five classifications. */
  def classification(id: Long): String =
    Classes((((id - 1) / PageRecords) % Classes.size).toInt)

  private val Adjectives = IndexedSeq("Gold", "Silver", "Bronze", "Painted",
    "Carved", "Glazed", "Small", "Large", "Fragmentary", "Gilded", "Incised")
  private val Nouns = IndexedSeq("Solidus", "Bowl", "Portrait", "Landscape",
    "Amphora", "Print", "Figure", "Vessel", "Plate", "Study", "Mask")
  private val Names = IndexedSeq("Justinian I", "a Woman", "the Harbor",
    "Athena", "the Emperor", "a Merchant", "Saint George", "the River",
    "Zeus", "a Child", "Dionysos", "the Garden")
  private val Cultures = IndexedSeq("Byzantine", "Byzantine", "Roman", "Greek",
    "Chinese", "Japanese", "French", "American", "Dutch", "Egyptian", "Persian")
  private val Periods = IndexedSeq("Archaic period", "Late Archaic",
    "Early Byzantine period", "Middle Byzantine period", "Classical",
    "Hellenistic", "Ming dynasty", "Edo period", "Roman Imperial")
  private val Centuries = IndexedSeq("11th century", "1st century BCE",
    "5th century BCE", "6th century", "12th century", "16th century",
    "18th century", "19th century", "20th century")
  private val Media = IndexedSeq("Gold", "Silver", "Bronze", "Oil on canvas",
    "Terracotta", "Gelatin silver print", "Etching", "Porcelain")
  private val Departments = IndexedSeq(
    "Department of Ancient and Byzantine Art & Numismatics",
    "Department of European and American Art", "Department of Asian Art",
    "Department of Photographs", "Department of Prints")
  private val Methods = IndexedSeq("Bequest", "Gift", "Purchase", "Transfer")
  private val Hues = IndexedSeq("Grey", "Brown", "Black", "White", "Red",
    "Yellow", "Green", "Blue", "Orange", "Violet")
  private val Palette: IndexedSeq[String] = (0 until 48).map { i =>
    val v = mix(i.toLong) & 0xffffffL
    f"#$v%06x"
  }
  private val Words = IndexedSeq("bronze", "figure", "glaze", "coin", "relief",
    "inscription", "émail", "façade", "über", "vessel", "naïve", "ornament",
    "portrait", "landscape", "harbor", "line\nbreak", "tab\tstop", "\"quoted\"")
  private val Garbage = IndexedSeq(
    "<html><body>502 Bad Gateway</body></html>", "{\"id\": ", "{{}")

  private def sentence(r: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder
    while (sb.length < len) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Words(r.nextInt(Words.size)))
    }
    sb.substring(0, len)
  }

  /** splitmix64 finalizer. */
  private[perfbench] def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Appends `"key":value` pairs of one JSON object in call order. */
  private final class FieldWriter {
    private val sb = new StringBuilder("{")
    def raw(k: String, v: String): Unit = {
      if (sb.length > 1) sb.append(',')
      sb.append('"').append(k).append("\":").append(v)
    }
    def str(k: String, v: String): Unit = raw(k, quote(v))
    def result: String = sb.append('}').toString
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
