package graft.config

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

/** YAML config loading (driver-side, plan-build time — never on the data
  * path). Mirrors Source.load_all (etl/models.py:56-128), mappings.yaml
  * parsing (etl/mapping.py:414-435) and env-var overrides
  * (etl/config.py:421-453).
  */
object Configs {

  private def asMap(o: Any): Map[String, Any] = o match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v }.toMap
    case _                      => Map.empty
  }

  private def asList(o: Any): Seq[Any] = o match {
    case l: java.util.List[_] => l.asScala.toSeq
    case null                 => Seq.empty
    case x                    => Seq(x)
  }

  private def str(m: Map[String, Any], k: String, dflt: String = ""): String =
    m.get(k).map(_.toString).getOrElse(dflt)

  private def opt(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map(_.toString).filter(_.nonEmpty)

  private def bool(m: Map[String, Any], k: String, dflt: Boolean): Boolean =
    m.get(k) match {
      case Some(b: java.lang.Boolean) => b
      case Some(s)                    => s.toString.toLowerCase == "true"
      case None                       => dflt
    }

  private def int(m: Map[String, Any], k: String, dflt: Int): Int =
    m.get(k) match {
      case Some(n: Number) => n.intValue()
      case Some(s)         => scala.util.Try(s.toString.toInt).getOrElse(dflt)
      case None            => dflt
    }

  def parseSources(yamlText: String): Seq[Source] = {
    val root = asMap(new Yaml().load[Any](yamlText))
    asList(root.getOrElse("sources", null)).map(asMap).map { m =>
      Source(
        name = str(m, "name"),
        authority = str(m, "authority"),
        sourceType = str(m, "type"),
        url = str(m, "url"),
        enabled = bool(m, "enabled", dflt = true),
        stagedDataType = opt(m, "staged_data_type"),
        downloadFormat = opt(m, "download_format"),
        include = asList(m.getOrElse("include", null)).map(_.toString),
        raw = asMap(m.getOrElse("raw", null)),
        timeoutSeconds = int(m, "timeout", 30),
        retryAttempts = int(m, "retry_attempts", 3),
        priority = int(m, "priority", 50),
        tags = asList(m.getOrElse("tags", null)).map(_.toString))
    }
  }

  def parseMappings(yamlText: String): (Seq[OutputMapping], MappingSettings) = {
    val root = asMap(new Yaml().load[Any](yamlText))
    val mappings = asList(root.getOrElse("mappings", null)).map(asMap).map { m =>
      OutputMapping(
        stagingFc = str(m, "staging_fc"),
        sdeFc = str(m, "sde_fc"),
        sdeDataset = str(m, "sde_dataset"),
        description = opt(m, "description"),
        enabled = bool(m, "enabled", dflt = true),
        schema = opt(m, "schema"))
    }
    val s = asMap(root.getOrElse("settings", null))
    val settings = MappingSettings(
      defaultSchema = str(s, "default_schema", "GNG"),
      defaultDatasetPattern = str(s, "default_dataset_pattern", "Underlag_{authority}"),
      defaultFcPattern = str(s, "default_fc_pattern", "{authority}_{source_name}"),
      validateDatasets = bool(s, "validate_datasets", dflt = true),
      createMissingDatasets = bool(s, "create_missing_datasets", dflt = true),
      skipUnmappableSources = bool(s, "skip_unmappable_sources", dflt = false))
    (mappings, settings)
  }

  def parseGlobal(yamlText: String): GlobalConfig = {
    val root = asMap(new Yaml().load[Any](yamlText))
    val geo  = asMap(root.getOrElse("geoprocessing", null))
    val aoi = opt(geo, "aoi_bbox").map { s =>
      val Array(a, b, c, d) = s.split(",").map(_.trim.toDouble)
      (a, b, c, d)
    }
    GlobalConfig(
      sdeSchema = str(root, "sde_schema", "GNG"),
      sdeLoadStrategy = str(root, "sde_load_strategy", "truncate_and_load"),
      geoprocessingEnabled = bool(geo, "enabled", dflt = true),
      targetSrid = int(geo, "target_srid", 3010),
      aoi = aoi,
      aoiWkt = opt(geo, "aoi_wkt"),
      sdeAuthorityMapping = asMap(root.getOrElse("sde_authority_mapping", null))
        .map { case (k, v) => k -> v.toString },
      continueOnFailure = bool(root, "continue_on_failure", dflt = true),
      downloadDir = opt(asMap(root.getOrElse("paths", null)), "download"),
      healthChecksEnabled = bool(
        asMap(asMap(root.getOrElse("monitoring", null))
          .getOrElse("health_checks", null)), "enabled", dflt = false))
  }
}
