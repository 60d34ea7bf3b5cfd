package graft.util

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.hadoop.conf.Configuration

import scala.reflect.ClassTag

/** The one JSON codec for the metadata files graft writes (table snapshots,
  * checkpoint markers, stats sidecars, stream offsets): one case class per
  * format, keys in snake_case (`wallMs` is `"wall_ms"`) unless a field's
  * `@JsonProperty` names it, `None` fields omitted. Reads also accept raw
  * control characters inside strings, which older string-built writers left
  * unescaped; writes always escape them. */
object Json {
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .defaultPropertyInclusion(JsonInclude.Value.construct(
      JsonInclude.Include.NON_ABSENT, JsonInclude.Include.USE_DEFAULTS))
    .build() :: ClassTagExtensions

  def write(value: Any): String = mapper.writeValueAsString(value)

  def read[T: ClassTag](json: String): T = mapper.readValue[T](json)

  /** `path` parsed as a `T`; None when the file is missing or is not a
    * valid `T`, so damaged metadata reads as absent, never as a crash. */
  def readFile[T: ClassTag](path: String, conf: Configuration): Option[T] =
    try Some(read[T](HadoopIO.readString(path, conf)))
    catch { case _: java.io.FileNotFoundException | _: JacksonException => None }
}
