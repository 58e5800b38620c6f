package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's output lines and files, through the Jackson
  * that Spark already ships (with its Scala module, so Scala maps, seqs
  * and options render directly, in iteration order). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  /** Reads a flat `{"name": "value", ...}` object of string values. */
  def readStringMap(text: String): Map[String, String] =
    mapper.readValue(text, classOf[Map[String, String]])
}
