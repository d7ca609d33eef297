package graft.mappings

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{LakeConfig, SourceConfig}
import scala.jdk.CollectionConverters._

/** Parses the data-lake config JSON (same shape as the reference's
  * evaluation/input_files/config:2-77: `sources[{type,options,source,entity}]`;
  * its `weights[{datasource,weight}]` join-order weights, which the
  * reference computes but never applies, are ignored). Uses the Jackson
  * that ships inside Spark — no extra dependency. */
object ConfigParser {

  private val mapper = new ObjectMapper()

  def parse(text: String): LakeConfig = {
    val root = mapper.readTree(text)
    val sources = opt(root, "sources").map(_.elements().asScala.toSeq).getOrElse(Nil).map { s =>
      val options = opt(s, "options")
        .map(o => o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty[String, String])
      SourceConfig(
        entity = s.get("entity").asText(),
        storeType = s.get("type").asText(),
        source = s.get("source").asText(),
        options = options)
    }
    LakeConfig(sources)
  }

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)
}
