package perfbench

import java.io.File
import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record and the expected digests, through the Jackson
  * Scala module that Spark already ships: case classes become objects
  * of their fields.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON object of string values; empty when there is no file. */
  def readStrings(path: String): Map[String, String] =
    if (path.isEmpty || !new File(path).exists) Map.empty
    else mapper.readValue(new File(path), new TypeReference[Map[String, String]] {})
}
