package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** An object that keeps its fields in the order given. */
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(text: String): JsonNode = mapper.readTree(text)
}
