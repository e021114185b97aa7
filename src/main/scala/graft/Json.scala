package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** The library's JSON writer and reader: the mains write their output
  * with it, and [[graft.sources.HttpSource]] reads its count probe.
  * Values are plain Scala: [[obj]] for an object (keys in the given
  * order), `Seq` for an array, `Option` for a nullable value, [[fixed]]
  * for a rounded number, and a [[parse]]d node to embed another
  * process's output verbatim.
  */
object Json {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  /** `d` as a number with `places` decimals, rounded as `%.Nf` rounds. */
  def fixed(d: Double, places: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d)
      .setScale(places, java.math.RoundingMode.HALF_UP)

  /** One line: control characters inside strings are escaped. */
  def write(value: Any): String = mapper.writeValueAsString(value)

  def parse(text: String): JsonNode = mapper.readTree(text)
}
