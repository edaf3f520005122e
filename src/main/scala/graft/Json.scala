package graft

import com.fasterxml.jackson.core.{JsonGenerator, JsonProcessingException}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** The one JSON codec of graft's mains: every artifact they write and
  * the lineage Bench reads back. Jackson escapes every string (quotes,
  * backslashes, all control characters), `None` writes `null`, and
  * Scala maps and [[obj]]s keep their iteration order.
  */
object Json {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)
    // `{...}{"cpus":...` is two values, not one entry
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** An object whose keys serialize in argument order. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def write(value: Any): String = mapper.writeValueAsString(value)

  /** `x` rounded half-up to `digits` decimals and written with exactly
    * that many (`0.550`). Formatted under `Locale.ROOT`: a comma-decimal
    * default locale must not change the artifact.
    */
  def fixed(x: Double, digits: Int): java.math.BigDecimal =
    new java.math.BigDecimal(
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(x)))

  /** `text` as a JSON tree, or None when it is not exactly one JSON
    * value (a torn trailing write, say).
    */
  def parse(text: String): Option[JsonNode] =
    try Some(mapper.readTree(text)).filterNot(_.isMissingNode) // blank text
    catch { case _: JsonProcessingException => None }
}
