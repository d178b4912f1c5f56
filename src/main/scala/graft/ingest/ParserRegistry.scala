package graft.ingest

import java.util.Locale
import graft.core.Model._

/** Extension → parser dispatch (reference: analysis/parser.py:2109-2267).
  * Runs inside the ingestion `flatMap`/`mapPartitions` stage — parsing is
  * embarrassingly parallel per file (the reference's sequential batch loop,
  * indexer.py:1249-1372, is exactly what Spark parallelizes for free).
  */
object ParserRegistry {

  type Parser = (String, String) => ParserResult

  val byExtension: Map[String, Parser] = Map(
    "py" -> PythonParser.parse,
    "md" -> MarkdownParser.parse,
    "markdown" -> MarkdownParser.parse,
    "txt" -> TextParser.parse,
    "log" -> TextParser.parse,
    "json" -> JsonParser.parse,
    "yaml" -> YamlParser.parse,
    "yml" -> YamlParser.parse,
    "js" -> JsParser.parse,
    "jsx" -> JsParser.parse,
    "ts" -> JsParser.parse,
    "tsx" -> JsParser.parse,
    "mjs" -> JsParser.parse,
    "cjs" -> JsParser.parse,
    "html" -> HtmlParser.parse,
    "htm" -> HtmlParser.parse,
    "css" -> CssParser.parse,
    "csv" -> CsvParser.parse,
    "ini" -> IniParser.parse,
    "cfg" -> IniParser.parse,
    "conf" -> IniParser.parse,
    "toml" -> IniParser.parse
  )

  def canParse(relPath: String): Boolean =
    byExtension.contains(extensionOf(relPath))

  def extensionOf(relPath: String): String = {
    val name = relPath.split('/').last
    val dot = name.lastIndexOf('.')
    if (dot < 0) "" else name.substring(dot + 1).toLowerCase(Locale.ROOT)
  }

  def parse(relPath: String, content: String): ParserResult =
    byExtension.get(extensionOf(relPath)) match {
      case Some(p) =>
        try p(relPath, content)
        catch {
          case e: Exception =>
            ParserResult(relPath, graft.core.Ids.sha256Hex(content),
              Seq.empty, Seq.empty, Seq.empty, Seq(s"parse error: ${e.getMessage}"))
        }
      case None =>
        ParserResult(relPath, graft.core.Ids.sha256Hex(content),
          Seq.empty, Seq.empty, Seq.empty, Seq(s"no parser for $relPath"))
    }
}
