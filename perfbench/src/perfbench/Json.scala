package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run's JSON files, through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, value: Any): Unit = mapper.writeValue(new File(path), value)

  /** A flat object of strings; empty when the file does not exist. */
  def readStrings(path: String): Map[String, String] = {
    val f = new File(path)
    if (f.exists) mapper.readValue(f, classOf[Map[String, String]]) else Map.empty
  }
}
