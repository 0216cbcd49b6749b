package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  def read(path: java.nio.file.Path): JsonNode = new ObjectMapper().readTree(path.toFile)

  /** name → unit of the metrics a run with this trace flag must print. */
  def declaredMetrics(spec: JsonNode, trace: Boolean): Seq[(String, String)] =
    spec.get(if (trace) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
}
