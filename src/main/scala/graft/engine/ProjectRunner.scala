package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import graft.schema.StreamSchema
import graft.types.FlinkType

/** Minimal dbt-style project runner: a directory of `<model>.sql` files,
  * each optionally starting with a `{{ config(...) }}` block (the
  * reference's model format — example_project/example/models/example/),
  * materialized in dependency order.
  *
  * Supported config subset — exactly what the reference's adapter reads
  * (impl.py:449-480):
  *   - `output_stream.schema_v2.watermarks[].{name, expression}`
  *   - `output_stream.schema_v2.constraints.primary_key`
  *   - `pipeline.execution.active` (default true, impl.py:458-460)
  *   - `pipeline.execution.initial_start_positions` (recorded as props)
  *
  * The config payload is Python-dict-shaped; jackson in lenient mode
  * (single quotes, unquoted field names, trailing commas) parses the
  * whole observed surface. `{{ ref('x') }}` / `{{ source('s', 'x') }}`
  * resolve to the bare identifier (namespace prefixing happens in the
  * catalog). Dependency order comes from the engine's parser-based
  * `sourcesOf`, not string matching.
  */
final class ProjectRunner(engine: Engine) {

  private val mapper = {
    val m = new ObjectMapper()
    m.configure(JsonReadFeature.ALLOW_SINGLE_QUOTES.mappedFeature(), true)
    m.configure(JsonReadFeature.ALLOW_UNQUOTED_FIELD_NAMES.mappedFeature(), true)
    m.configure(JsonReadFeature.ALLOW_TRAILING_COMMA.mappedFeature(), true)
    m
  }

  private val ConfigRe = raw"(?s)\{\{\s*config\s*\((.*?)\)\s*\}\}".r
  private val RefRe = raw"\{\{\s*ref\s*\(\s*'([^']+)'\s*\)\s*\}\}".r
  private val SourceRe = raw"\{\{\s*source\s*\(\s*'[^']+'\s*,\s*'([^']+)'\s*\)\s*\}\}".r

  /** @param materialized "table" (the reference's only mode,
    *                      README.md:85) or "incremental" (an improvement:
    *                      dbt's append/merge materialization — merge
    *                      semantics come from the engine's PK
    *                      compaction-on-read, so `unique_key` maps to the
    *                      stream's primary key) */
  final case class Model(name: String, sql: String, config: ModelConfig,
                         materialized: String = "table")

  /** Parse one model file: strip/parse the config block, resolve refs. */
  def parseModel(name: String, text: String): Model = {
    val (config, materialized) = ConfigRe.findFirstMatchIn(text)
      .map(m => parseConfig(m.group(1)))
      .getOrElse((ModelConfig(), "table"))
    val body = RefRe.replaceAllIn(
      SourceRe.replaceAllIn(ConfigRe.replaceAllIn(text, ""), "$1"), "$1").trim
    Model(name, body, config, materialized)
  }

  private def parseConfig(kwargs: String): (ModelConfig, String) = {
    // config(a={...}, b={...}) → {"a": {...}, "b": {...}} via top-level
    // kwarg splitting (depth-aware on brackets, quote-aware)
    val parts = splitKwargs(kwargs)
    val json = parts.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",", "}")
    val node = mapper.readTree(json)

    def at(path: String*): Option[JsonNode] =
      path.foldLeft(Option[JsonNode](node))((n, p) => n.flatMap(x => Option(x.get(p))))

    // watermarks, primary key and explicit output-stream fields
    // (impl.py:490-500 skips inference when the model declares them; kind
    // defaults to physical like schema.py), in the stored schema's shape
    val schema = at("output_stream", "schema_v2").fold(StreamSchema(Nil))(StreamSchema.fromNode)
    val active = at("pipeline", "execution", "active").forall(_.asBoolean(true))
    val startPositions = at("pipeline", "execution", "initial_start_positions")
      .map(n => n.properties().asScala.map(e =>
        s"start_position.${e.getKey}" -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
    val materialized = at("materialized").map(_.asText()).getOrElse("table")
    val uniqueKey = at("unique_key")
      .map(n => if (n.isArray) n.elements().asScala.map(_.asText()).toSeq
                else Seq(n.asText()))
      .getOrElse(Nil)
    // engine-extension properties: `graft={'bucket_by': 'k', ...}` pass
    // through to StreamDef.properties verbatim (bucketed storage & co —
    // the engine-specific knob surface the reference exposes as adapter
    // `properties`, client.py:364-398)
    val graftProps = at("graft")
      .map(n => n.properties().asScala.map(e =>
        e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    (ModelConfig(primaryKey = (schema.primaryKey ++ uniqueKey).distinct,
      watermarks = schema.watermarks, active = active,
      properties = startPositions ++ graftProps,
      declaredFields = schema.fields), materialized)
  }

  private def splitKwargs(s: String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var depth = 0
    var inStr = false
    var start = 0
    def emit(seg: String): Unit = {
      val t = seg.trim
      if (t.nonEmpty) {
        val i = t.indexOf('=')
        require(i > 0, s"malformed config kwarg: $t")
        out += ((t.substring(0, i).trim, t.substring(i + 1).trim))
      }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '"' || c == '\'') inStr = false }
      else c match {
        case '"' | '\'' => inStr = true
        case '{' | '[' | '(' => depth += 1
        case '}' | ']' | ')' => depth -= 1
        case ',' if depth == 0 => emit(s.substring(start, i)); start = i + 1
        case _ =>
      }
      i += 1
    }
    emit(s.substring(start))
    out.result()
  }

  /** Load all `*.sql` models in a directory (non-recursive). */
  def loadModels(dir: String): Seq[Model] =
    scala.util.Using.resource(Files.list(Paths.get(dir))) { s =>
      s.iterator().asScala
        .filter(_.toString.endsWith(".sql"))
        .map { p: Path =>
          val name = p.getFileName.toString.stripSuffix(".sql")
          parseModel(name, new String(Files.readAllBytes(p), "UTF-8"))
        }.toSeq
    }.sortBy(_.name)

  /** Materialize all models in dependency order (models whose sources are
    * other models run after them — the dbt DAG walk, SURVEY §3.1).
    *
    * `select` is dbt's node-selection syntax over this project's model
    * graph: `name` (just the model), `+name` (model plus every upstream
    * ancestor), `name+` (model plus every downstream descendant),
    * `+name+` (both); multiple selectors union. Empty = all models.
    * Selected models still materialize after their in-selection deps;
    * upstream deps OUTSIDE the selection are assumed current (dbt's
    * behavior — use `+name` to rebuild them too).
    */
  def run(dir: String, fullRefresh: Boolean = false,
          select: Seq[String] = Nil): Map[String, ApplyResult] = {
    // schema.yml per-column data_type hints attach to models by name
    // (reference _get_model_schema_hints, impl.py:663-669)
    val hints = ymlDocs(dir).flatMap(columnHints).toMap
    val models = loadModels(dir).map(m =>
      hints.get(m.name).fold(m)(h =>
        m.copy(config = m.config.copy(columnHints = h))))
    def depsOf(m: Model): Seq[Model] = models.filter(o =>
      o.name != m.name &&
        (referencesIdentifier(m.sql, o.name) ||
          referencesIdentifier(m.sql, engine.catalog.qualify(o.name))))

    val selected: Set[String] =
      if (select.isEmpty) models.map(_.name).toSet
      else {
        val byName = models.map(m => m.name -> m).toMap
        val chosen = scala.collection.mutable.Set[String]()
        // each walk carries its OWN visited set — a node already chosen
        // by an earlier selector must not truncate a later selector's
        // graph traversal (its ancestors/descendants still need walking)
        def ancestors(n: String, seen: scala.collection.mutable.Set[String]): Unit =
          if (seen.add(n)) {
            chosen += n
            byName.get(n).toSeq.flatMap(depsOf).foreach(d => ancestors(d.name, seen))
          }
        def descendants(n: String, seen: scala.collection.mutable.Set[String]): Unit =
          if (seen.add(n)) {
            chosen += n
            models.filter(o => depsOf(o).exists(_.name == n))
              .foreach(o => descendants(o.name, seen))
          }
        select.foreach { sel =>
          val up = sel.startsWith("+")
          val down = sel.endsWith("+")
          val name = sel.stripPrefix("+").stripSuffix("+")
          require(byName.contains(name), s"unknown model in selector: '$sel'")
          chosen += name
          if (up) ancestors(name, scala.collection.mutable.Set.empty)
          if (down) descendants(name, scala.collection.mutable.Set.empty)
        }
        chosen.toSet
      }

    val done = scala.collection.mutable.LinkedHashMap[String, ApplyResult]()
    val visiting = scala.collection.mutable.Set[String]()

    def visit(m: Model): Unit = {
      if (done.contains(m.name) || !selected(m.name)) return
      require(visiting.add(m.name), s"model cycle involving '${m.name}'")
      // deps that are themselves models in this project: materialize first.
      // sourcesOf only resolves existing streams, so parse-level refs are
      // matched against project model names here — in BOTH spellings: refs
      // resolve to the bare name, but a model may also be spelled
      // namespace-qualified (ns__model) in hand-written SQL.
      depsOf(m).filter(d => selected(d.name)).foreach(visit)
      done(m.name) = materialize(m, fullRefresh)
      visiting.remove(m.name)
    }

    models.foreach(visit)
    done.toMap
  }

  /** Materialize every `*.csv` in a dbt-style `seeds/` directory
    * (macros/materializations/seed/seed.sql:17-61). Missing dir → no-op.
    * Per-seed `config.column_types` declared in the directory's yml
    * properties files override type inference per column, like the
    * reference's `column_override` (`create_seed_table`,
    * impl.py:516-531 — unknown type strings fall back to inferred). */
  def runSeeds(dir: String, fullRefresh: Boolean = false): Map[String, ApplyResult] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Map.empty
    else {
      val overrides = ymlDocs(dir).flatMap(seedColumnTypes).toMap
      scala.util.Using.resource(Files.list(p))(
        _.iterator().asScala
          .filter(_.toString.endsWith(".csv"))
          .toSeq)
        .sortBy(_.getFileName.toString)
        .map { f =>
          val name = f.getFileName.toString.stripSuffix(".csv")
          name -> engine.seed(name, f.toString,
            columnTypes = overrides.getOrElse(name, Map.empty),
            fullRefresh = fullRefresh)
        }.toMap
    }
  }

  private val yaml = new ObjectMapper(new YAMLFactory())

  /** Every `.yml`/`.yaml` file in `dir`, parsed. */
  private def ymlDocs(dir: String): Seq[JsonNode] =
    scala.util.Using.resource(Files.list(Paths.get(dir)))(
      _.iterator().asScala
        .filter(f => f.toString.endsWith(".yml") || f.toString.endsWith(".yaml"))
        .map(f => yaml.readTree(new String(Files.readAllBytes(f), "UTF-8")))
        .toSeq)

  /** Parse dbt seed properties: `seeds: [{name, config: {column_types:
    * {col: TYPE}}}]` → per-seed column type strings. */
  private def seedColumnTypes(root: JsonNode): Map[String, Map[String, String]] =
    Option(root.get("seeds")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap { s =>
        val types = Option(s.get("config")).flatMap(c => Option(c.get("column_types")))
          .map(ct => ct.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty)
        if (types.isEmpty) None else Some(s.get("name").asText() -> types)
      }.toMap

  /** Full dbt-style project build: CSV seeds under `seeds` first (models
    * may select from them), then SQL models under `models` in dependency
    * order. */
  def runProject(projectRoot: String, fullRefresh: Boolean = false): Map[String, ApplyResult] =
    runSeeds(s"$projectRoot/seeds", fullRefresh) ++
      run(s"$projectRoot/models", fullRefresh)

  private val IfIncrementalRe =
    raw"(?s)\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}".r

  /** dbt-style incremental templating: `{% if is_incremental() %}…{%
    * endif %}` blocks are kept on append runs and removed on first
    * builds/full refreshes (render-time, like dbt — the removed branch
    * may reference `{{ this }}`, which does not exist yet on the first
    * build); then `{{ this }}` → the model's own qualified stream and a
    * bare `is_incremental()` → TRUE/FALSE. */
  private def render(sql: String, name: String, incremental: Boolean): String = {
    val blocks = IfIncrementalRe.replaceAllIn(sql, m =>
      if (incremental)
        java.util.regex.Matcher.quoteReplacement(m.group(1))
      else "")
    blocks.replaceAll(raw"\{\{\s*this\s*\}\}",
        engine.catalog.qualify(name))
      .replaceAll(raw"is_incremental\s*\(\s*\)", if (incremental) "TRUE" else "FALSE")
  }

  private def materialize(m: Model, fullRefresh: Boolean): ApplyResult =
    m.materialized match {
      case "table" =>
        engine.createModel(m.name, render(m.sql, m.name, incremental = false),
          m.config, fullRefresh)
      case "incremental" =>
        val appendRun = engine.catalog.exists(m.name) && !fullRefresh
        if (!appendRun) {
          engine.createModel(m.name, render(m.sql, m.name, incremental = false),
            m.config, fullRefresh)
        } else {
          engine.insertInto(m.name, render(m.sql, m.name, incremental = true))
          Updated
        }
      case other =>
        // the reference's unsupported-materialization error path
        // (macros/materializations/unsupported)
        throw new IllegalArgumentException(
          s"materialization '$other' is not supported (table, incremental)")
    }

  // ------------------------------------------------------------------
  // schema.yml generic tests (the dbt test layer the reference's
  // functional scenario exercises — fixtures.py:31-39 not_null on
  // my_model; wrapped SQL comes from dbt's generic test templates)
  // ------------------------------------------------------------------

  final case class GenericTest(model: String, column: String, kind: String) {
    def name: String = s"${kind}_${model}_$column"
    /** dbt's built-in generic test SQL (rows = failures). */
    def sql: String = kind match {
      case "not_null" => s"SELECT $column FROM $model WHERE $column IS NULL"
      case "unique" =>
        s"""SELECT $column FROM $model WHERE $column IS NOT NULL
           |GROUP BY $column HAVING count(*) > 1""".stripMargin
      case other =>
        throw new IllegalArgumentException(s"unsupported generic test '$other'")
    }
  }

  /** Parse a dbt schema.yml's models[].columns[].data_type declarations
    * into per-model column type hints (impl.py:663-669). */
  private def columnHints(root: JsonNode): Map[String, Map[String, FlinkType]] =
    Option(root.get("models")).toSeq
      .flatMap(_.elements().asScala)
      .map { m =>
        val cols = Option(m.get("columns")).toSeq
          .flatMap(_.elements().asScala)
          .flatMap(c => Option(c.get("data_type")).map(t =>
            c.get("name").asText() -> FlinkType.parseOrThrow(t.asText())))
          .toMap
        m.get("name").asText() -> cols
      }
      .filter(_._2.nonEmpty)
      .toMap

  /** Parse a dbt schema.yml's models[].columns[].tests into generic
    * tests (subset: not_null, unique — the built-ins the reference's
    * fixtures use). */
  private def schemaTests(root: JsonNode): Seq[GenericTest] =
    Option(root.get("models")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap { m =>
        val model = m.get("name").asText()
        Option(m.get("columns")).toSeq.flatMap(_.elements().asScala).flatMap { c =>
          val column = c.get("name").asText()
          Option(c.get("tests")).toSeq.flatMap(_.elements().asScala).map { t =>
            GenericTest(model, column, t.asText())
          }
        }
      }

  /** Run every generic test declared in a directory's yml files.
    * @return test name → judged result */
  def runTests(dir: String): Map[String, Engine#TestResult] =
    ymlDocs(dir).flatMap(schemaTests)
      .map { t =>
        t.name -> engine.runTestJudged(t.name,
          t.copy(model = engine.catalog.qualify(t.model)).sql)
      }.toMap

  private def referencesIdentifier(sql: String, name: String): Boolean =
    s"(?i)(?<![\\w`])${java.util.regex.Pattern.quote(name)}(?![\\w`])".r
      .findFirstIn(sql).isDefined
}
