package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The expected-digest file: {"<size>": {"<query>": "<digest>", ...}, ...}. */
object Json {
  private val mapper = new ObjectMapper()

  def stringMap(text: String, key: String): Map[String, String] = {
    val node = mapper.readTree(text).get(key)
    if (node == null) Map.empty
    else node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  def writeStringMap(file: Path, key: String, kv: Seq[(String, String)]): Unit = {
    val root = if (Files.exists(file)) mapper.readTree(Files.readAllBytes(file)).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    val inner = mapper.createObjectNode()
    kv.sortBy(_._1).foreach { case (k, v) => inner.put(k, v) }
    root.set[ObjectNode](key, inner)
    Files.write(file, (mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
      .getBytes(UTF_8))
  }

  def quote(s: String): String = mapper.writeValueAsString(s)
}
