package graft.pipebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson jars Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])

  def write(v: Any): String = mapper.writeValueAsString(v)
}
