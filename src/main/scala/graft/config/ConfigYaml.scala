package graft.config

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.representer.Representer
import org.yaml.snakeyaml.resolver.Resolver

/** YAML front-end for [[PipelineConfig]] — the engine's "parser" stage
  * (SURVEY §3: `CONSUMER_CONFIG` env YAML → typed config → plan).
  *
  * Documents are YAML, read by the SnakeYAML jar that ships with the Spark
  * distribution, and every scalar is read as text: the loader carries no
  * implicit type resolvers, so `yes`, `null`, `007` and `1.0` stay the
  * strings they are written as and the typed views below decide what each
  * field means. Aliases of collections are refused (a recursive alias
  * could never be converted), a duplicate key keeps its last value, and
  * every loader error surfaces as a [[ParseError]] carrying its line and
  * column.
  *
  * Field names, aliases and defaults mirror the reference's pydantic models
  * (`/root/reference/src/config.py:44-117`), including the reference's own
  * `keypath-seperator` spelling. `custom-config` (Python `eval`,
  * `/root/reference/src/base.py:35-42`) maps to the whitelisted
  * [[ColumnTypeOverride]]: only `oracledb.Cursor.setinputsizes` entries with
  * known type names are accepted — anything else fails validation instead of
  * evaluating.
  */
object ConfigYaml {

  final case class ParseError(msg: String) extends RuntimeException(msg)

  /** YAML text → a tree of `Map[String, Any]`, `List[Any]` and `String`
    * leaves. An empty document is the empty map.
    */
  def parseTree(src: String): Map[String, Any] = {
    val opts = new LoaderOptions
    opts.setMaxAliasesForCollections(0)
    val textOnly = new Resolver { override def addImplicitResolvers(): Unit = () }
    val yaml = new Yaml(new SafeConstructor(opts), new Representer(new DumperOptions),
      new DumperOptions, opts, textOnly)
    val doc: Any =
      try yaml.load[AnyRef](src) catch { case e: YAMLException => throw ParseError(e.getMessage) }
    doc match {
      case null => Map.empty
      case m: java.util.Map[_, _] => toScala(m).asInstanceOf[Map[String, Any]]
      case other => throw ParseError(s"top level must be a map, got ${toScala(other)}")
    }
  }

  private def toScala(node: Any): Any = node match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => text(k) -> toScala(v) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case leaf => text(leaf)
  }
  // With no implicit resolvers, only an explicit tag (`!!int 5`) or a
  // collection used as a key gives anything but a String here.
  private def text(leaf: Any): String = leaf match {
    case s: String => s
    case other => throw ParseError(s"expected a plain scalar, got: $other")
  }

  // ------------------------------------------------------------- typed view
  // One set of accessors for both config documents ([[fromYaml]] and
  // [[CurateConfig.fromTree]]): a scalar, a sub-map or a list, each failing
  // with a ParseError when the node has another shape.
  private[config] def scalar(k: String, v: Any): String = v match {
    case s: String => s
    case other => throw ParseError(s"'$k' must be a scalar, got: $other")
  }
  private[config] def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map(scalar(k, _))
  private[config] def sub(m: Map[String, Any], k: String): Option[Map[String, Any]] =
    m.get(k).map {
      case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
      case other => throw ParseError(s"'$k' must be a map, got: $other")
    }
  private[config] def list(m: Map[String, Any], k: String): List[Any] =
    m.get(k).map {
      case l: List[_] => l
      case other => throw ParseError(s"'$k' must be a list, got: $other")
    }.getOrElse(Nil)
  private[config] def strings(m: Map[String, Any], k: String): List[String] =
    list(m, k).map(scalar(k, _))
  private[config] def maps(m: Map[String, Any], k: String): List[Map[String, Any]] =
    list(m, k).map {
      case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
      case other => throw ParseError(s"'$k' entries must be maps, got: $other")
    }
  /** A sub-map of scalars (`name: value` pairs); empty when absent. */
  private[config] def scalars(m: Map[String, Any], k: String): Map[String, String] =
    sub(m, k).getOrElse(Map.empty).map { case (kk, v) => kk -> scalar(kk, v) }

  /** Whitelisted `custom-config` translation (NO eval): oracledb type names →
    * JDBC column type DDL.
    */
  private val bindTypeWhitelist = Map(
    "oracledb.TIMESTAMP" -> "TIMESTAMP",
    "oracledb.DB_TYPE_TIMESTAMP" -> "TIMESTAMP",
    "oracledb.DB_TYPE_CLOB" -> "CLOB",
    "oracledb.DB_TYPE_BLOB" -> "BLOB",
    "oracledb.NUMBER" -> "NUMBER(38)",
    "oracledb.DB_TYPE_NVARCHAR" -> "NVARCHAR2(2000)")

  def fromYaml(src: String): PipelineConfig = {
    val root = parseTree(src)
    val s = sub(root, "source").getOrElse(throw ParseError("missing 'source' section"))
    val t = sub(root, "target").getOrElse(throw ParseError("missing 'target' section"))

    val source = SourceConfig(
      topic = str(s, "topic").getOrElse(throw ParseError("source.topic is required")),
      batchSize = str(s, "batch-size").map(_.toInt).getOrElse(5000),
      schemaMode = str(s, "schema").map(SchemaMode.parse).getOrElse(SchemaMode.Json),
      keyDecoder = str(s, "key-deserializer").map(KeyDecoder.parse).getOrElse(KeyDecoder.Utf8),
      strategy = str(s, "strategy") match {
        case Some("subscribe") => ConsumerStrategy.Subscribe
        case Some("assign") | None => ConsumerStrategy.Assign
        case Some(other) => throw ParseError(s"unknown strategy: $other")
      },
      groupId = str(s, "group-id").getOrElse("graft"),
      keypathSeparator = str(s, "keypath-seperator").orElse(str(s, "keypath-separator")).getOrElse("."),
      messageFieldsFilter = strings(s, "message-fields-filter"),
      flagFieldConfig = strings(s, "flag-field-config"),
      messageFilters = maps(s, "message-filters").map { mm =>
        MessageFilter(
          str(mm, "key").getOrElse(throw ParseError("message-filter needs 'key'")),
          str(mm, "allowed_value").getOrElse(throw ParseError("message-filter needs 'allowed_value'")))
      },
      pollTimeoutSec = str(s, "poll-timeout").map(_.toInt).getOrElse(10),
      schemaRegistryUrl = str(s, "schema-registry-url"))

    val target = TargetConfig(
      table = str(t, "table").getOrElse(throw ParseError("target.table is required")),
      skipDuplicatesWith = strings(t, "skip-duplicates-with"),
      k6Filter = sub(t, "k6-filter").map { k6 =>
        K6FilterConfig(
          filterTable = str(k6, "filter-table").getOrElse(throw ParseError("k6-filter.filter-table is required")),
          filterCol = str(k6, "filter-col").getOrElse(throw ParseError("k6-filter.filter-col is required")),
          col = str(k6, "col").getOrElse(throw ParseError("k6-filter.col is required")),
          timestamp = str(k6, "timestamp").getOrElse("kafka_timestamp"),
          colKeypathSeparator = str(k6, "col-keypath-separator").getOrElse("."))
      },
      delta = sub(t, "delta").map { d =>
        DeltaConfig(
          deltaTable = str(d, "table").getOrElse(throw ParseError("delta.table is required")),
          deltaColumn = str(d, "column").getOrElse(throw ParseError("delta.column is required")))
      },
      columnTypes = maps(t, "custom-config").map { mm =>
        val method = str(mm, "method").getOrElse("")
        if (method != "oracledb.Cursor.setinputsizes")
          throw ParseError(s"custom-config method not whitelisted: '$method'")
        val value = str(mm, "value").getOrElse("")
        val sqlType = bindTypeWhitelist.getOrElse(value,
          throw ParseError(s"custom-config value not whitelisted: '$value'"))
        ColumnTypeOverride(
          column = str(mm, "name").getOrElse(throw ParseError("custom-config needs 'name'")),
          sqlType = sqlType)
      })

    val transform = maps(root, "transform").map { mm =>
      TransformRule(
        src = str(mm, "src").getOrElse(throw ParseError("transform rule needs 'src'")),
        dst = str(mm, "dst").getOrElse(throw ParseError("transform rule needs 'dst'")),
        fun = str(mm, "fun"),
        allowUndefined = str(mm, "allow_undefined").exists(v => v == "true" || v == "True"))
    }

    // Embedded curation chain: the full training-data stage battery over
    // the table this consumer lands; `input` defaults to the sink table so
    // one document describes the whole source → sink → curate lifecycle.
    val curate = sub(root, "curate")
      .map(c => CurateConfig.fromTree(c, defaultInput = Some(target.table)))

    PipelineConfig(source, target, transform, curate).validated
  }
}
