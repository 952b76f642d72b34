package perfbench

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Try

class ArtifactGenSpec extends AnyFunSuite {
  private val mapper: ObjectMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()
  private def parse(line: String): Option[JsonNode] = Try(mapper.readTree(line)).toOption

  private def feedPages(seed: Long, n: Int): Seq[Seq[String]] = {
    val gen = new ArtifactGen(seed)
    val feed = new gen.Feed
    Seq.fill(n)(feed.next())
  }

  test("the same seed gives byte-identical pages") {
    val a = new ArtifactGen(7L)
    val b = new ArtifactGen(7L)
    assert((0 until 5).map(a.appPage) == (0 until 5).map(b.appPage))
    assert(feedPages(7L, 3) == feedPages(7L, 3))
    assert(feedPages(7L, 1) != feedPages(8L, 1))
  }

  test("a re-sent id is a byte-identical copy of its first arrival") {
    val g = new ArtifactGen(3L)
    val feed = new g.Feed
    val lines = Seq.fill(2)(feed.next()).flatten
    val byId = lines.flatMap(l => parse(l).map(n => n.get("id").asLong -> l))
      .groupBy(_._1)
    assert(byId.exists(_._2.size > 1), "no id was re-sent")
    byId.values.foreach(copies => assert(copies.map(_._2).distinct.size == 1))
    assert(byId.keySet == feed.offered.map(_.toLong))
  }

  test("pages cover the ETL edge cases") {
    val lines = feedPages(11L, 1).head
    val recs = lines.flatMap(parse)
    assert(lines.size - recs.size > 0, "no malformed lines")
    def has(p: JsonNode => Boolean) = recs.exists(p)
    def colors(n: JsonNode) = Option(n.get("colors")).map(_.elements.asScala.toSeq)
    assert(has(n => !n.has("culture")))
    assert(has(n => n.has("culture") && n.get("culture").isNull))
    assert(has(n => Option(n.get("culture")).exists(_.asText == "")))
    assert(has(n => Option(n.get("description")).exists(_.isNull)))
    assert(has(n => Option(n.get("description")).exists(_.asText.length > 500)))
    assert(has(n => colors(n).isEmpty))
    assert(has(n => colors(n).exists(_.size > 5)))
    assert(has(n => colors(n).exists(_.exists(c => c.get("percent").asDouble.isNaN))))
    assert(has(n => colors(n).exists(_.exists(c => c.get("percent").asDouble.isInfinite))))
  }

  test("the app's store hits every literal the 20 templates filter on") {
    val recs = (0 until 5).flatMap(new ArtifactGen(5L).appPage).map(l => parse(l).get)
    def str(n: JsonNode, k: String) = Option(n.get(k)).map(_.asText).getOrElse("")
    def num(n: JsonNode, k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asLong)
    def has(p: JsonNode => Boolean) = recs.exists(p)
    assert(has(n => str(n, "century") == "11th century" && str(n, "culture") == "Byzantine"))
    assert(has(n => str(n, "period").contains("Archaic")))
    assert(has(n => n.path("colors").elements.asScala.exists(c => str(c, "hue") == "Grey")))
    assert(has(n => num(n, "imagecount").exists(_ > 1)))
    assert(has(n => num(n, "colorcount").getOrElse(0L) > num(n, "mediacount").getOrElse(0L)))
    assert(has(n => num(n, "datebegin").exists(d => d >= 1500 && d <= 1600)))
    assert(has(n => num(n, "mediacount").contains(0L)))
    assert(has(n => num(n, "rank").exists(_ <= 10)))
    assert(recs.map(_.get("classification").asText).distinct.size == 5)
  }
}
