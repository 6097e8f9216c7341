package graftbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row

/** JSON through Jackson. `canonical` converts a forced result value into
  * the form the checker compares against DuckDB: timestamps as `"ts:<epoch
  * micros>"`, dates as `"date:<iso>"`, decimals as plain numbers, NaN and
  * infinities as strings.
  */
object Json {
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()
  private val f = mapper.getNodeFactory

  def write(v: Any): String = mapper.writeValueAsString(v)

  private def micros(epochSecond: Long, nano: Int): JsonNode = f.textNode(s"ts:${epochSecond * 1000000L + nano / 1000}")

  private def num(d: Double): JsonNode =
    if (d.isNaN || d.isInfinite) f.textNode(d.toString) else f.numberNode(d)

  def canonical(v: Any): JsonNode = v match {
    case null => f.nullNode()
    case n: JsonNode => n
    case b: Boolean => f.booleanNode(b)
    case i: Int => f.numberNode(i)
    case l: Long => f.numberNode(l)
    case s: Short => f.numberNode(s)
    case b: Byte => f.numberNode(b.toInt)
    case d: Double => num(d)
    case x: Float => num(x.toDouble)
    case d: java.math.BigDecimal => f.numberNode(d)
    case d: BigDecimal => f.numberNode(d.bigDecimal)
    case s: String => f.textNode(s)
    case t: java.sql.Timestamp => micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano)
    case t: LocalDateTime => micros(t.toEpochSecond(ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => f.textNode("date:" + d.toLocalDate.toString)
    case d: LocalDate => f.textNode("date:" + d.toString)
    case r: Row => canonical(r.toSeq)
    case bs: Array[Byte] => f.numberNode(bs.length)
    case xs: scala.collection.Map[_, _] =>
      val o = f.objectNode()
      xs.foreach { case (k, x) => o.set[JsonNode](String.valueOf(k), canonical(x)) }
      o
    case xs: Iterable[_] => array(xs.map(canonical))
    case xs: Array[_] => array(xs.map(canonical))
    case other => f.textNode(other.toString)
  }

  def array(items: Iterable[JsonNode]): JsonNode = {
    val a = f.arrayNode()
    items.foreach(a.add)
    a
  }
}
