package graft.ingest

import java.util.Locale
import scala.collection.mutable.ArrayBuffer
import graft.core.Ids
import graft.core.Model._

/** JS/TS parser (reference: analysis/javascript_parser.py:19-1197,
  * tree-sitter there; line/regex structural here): functions (declaration,
  * arrow, method incl. arrow-function class fields), classes +
  * extends/implements, class fields, interfaces, variables,
  * imports/requires, decorators, exceptions, JSON/fetch call patterns, and
  * implementation chunks with brace-matched extents.
  */
object JsParser {
  private val FuncRe = """^\s*(?:export\s+)?(?:default\s+)?(?:async\s+)?function\s*\*?\s*([A-Za-z_$][\w$]*)\s*\(([^)]*)\)""".r
  private val ArrowRe = """^\s*(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][\w$]*)\s*=\s*(?:async\s*)?(?:\([^)]*\)|[A-Za-z_$][\w$]*)\s*=>""".r
  // `<...>` spans: a generic class name (`class Box<T>`), a generic base
  // (`extends Base<T>`), or generic interface args must not block the
  // extends/implements groups — tree-sitter exposes the bare
  // type_identifier next to its type_arguments, so the reference records
  // the BASE name without generic args (javascript_parser.py:629-663)
  private val ClassRe = """^\s*(?:export\s+)?(?:default\s+)?(?:abstract\s+)?class\s+([A-Za-z_$][\w$]*)(?:<[^>{]*>)?(?:\s+extends\s+([A-Za-z_$][\w$.]*)(?:<[^>{]*>)?)?(?:\s+implements\s+([\w$.,<>\s]+))?""".r
  private val InterfaceRe = """^\s*(?:export\s+)?interface\s+([A-Za-z_$][\w$]*)(?:<[^>{]*>)?(?:\s+extends\s+([\w$.,<>\s]+))?""".r
  private val ImportRe = """^\s*import\s+(?:.+\s+from\s+)?['"]([^'"]+)['"]""".r
  private val ReExportStarRe = """^\s*export\s+\*\s+from\s+['"]([^'"]+)['"]""".r
  private val ExportListRe = """^\s*export\s+\{([^}]*)\}(?:\s*from\s+['"]([^'"]+)['"])?""".r
  private val RequireRe = """require\s*\(\s*['"]([^'"]+)['"]\s*\)""".r
  private val VarRe = """^(?:export\s+)?(?:const|let|var)\s+([A-Za-z_$][\w$]*)\s*(?::[^=]+)?=""".r
  // single-line destructuring declarations (the multiline form is the
  // structural parser's documented blind spot, like template literals)
  private val DestructRe = """^\s*(?:export\s+)?(?:const|let|var)\s+(\{.*\}|\[.*\])\s*=""".r
  private val CallRe = """([A-Za-z_$][\w$]*)\s*\(""".r
  // class members: modifiers + name(params) { — or an arrow-function /
  // plain field. '#' covers private members; <..> covers generic methods.
  // (?m): the regex is also scanned across whole class BODIES for the
  // "key methods" observation, where ^ must anchor at each line.
  private val MethodRe = """(?m)^\s*(?:public\s+|private\s+|protected\s+|static\s+|readonly\s+|abstract\s+|override\s+|async\s+)*(?:get\s+|set\s+)?\*?\s*([A-Za-z_$#][\w$]*)\s*(?:<[^>]*>)?\s*\(([^)]*)\)\s*(?::\s*[^({;]+)?\s*\{""".r
  private val FieldArrowRe = """^\s*(?:public\s+|private\s+|protected\s+|static\s+|readonly\s+)*([A-Za-z_$#][\w$]*)\s*(?::[^=]+)?=\s*(?:async\s*)?(?:\([^)]*\)|[A-Za-z_$][\w$]*)\s*=>""".r
  // modifiers OPTIONAL: the reference extracts unmodified classField
  // definitions (`role: string = 'admin'`) too — javascript_parser.py:129
  private val FieldRe = """^\s*(?:public\s+|private\s+|protected\s+|static\s+|readonly\s+)*([A-Za-z_$#][\w$]*)\s*(?::[^=;]+)?\s*[=;]""".r
  private val DecoratorRe = """^\s*@([\w.]+)""".r
  private val CatchRe = """catch\s*\(\s*([A-Za-z_$][\w$]*)""".r
  // JSON-loading / IO call patterns (reference: javascript_parser.py
  // JSON-loading detection; analog of the python file-op family)
  private val IoRe = """(JSON\.parse|JSON\.stringify|fetch|axios\.\w+)\s*\(\s*(?:['"]([^'"]+)['"])?""".r
  private val StmtKeywords = Set("if", "for", "while", "switch", "catch", "return",
    "else", "do", "try", "new", "function", "typeof", "await", "yield", "case", "async")

  /** Peel generic-argument spans to the bare names the reference records
    * (`Base<Map<K, V>>, Other` → `Base, Other`): innermost `<...>` pairs
    * are removed to fixpoint, so nesting unwinds without a real parser.
    */
  private def stripGenerics(s: String): String = {
    var cur = s
    var prev = ""
    while (cur != prev) { prev = cur; cur = cur.replaceAll("<[^<>]*>", "") }
    cur
  }

  // the reference's variable-inclusion filter, applied to EVERY variable
  // family (javascript_parser.py:1106-1139): loop/temp names are skipped,
  // 1-char names only when on the mathematical whitelist
  private val TempNames = Set("i", "j", "k", "index", "item", "key", "value", "temp", "tmp")
  private val ShortOk = Set("x", "y", "z", "a", "b", "c", "d", "e", "f", "g", "h",
    "n", "m", "p", "q", "r", "s", "t", "u", "v", "w")
  private def includeVar(n: String): Boolean =
    !TempNames.contains(n) && (n.length > 1 || ShortOk.contains(n))

  /** Names bound by a destructuring pattern (reference families,
    * javascript_parser.py:958-1105): object shorthand `{name}`, default
    * `{timeout = 5000}`, renamed `{username: uname}` (the VALUE side is
    * the binding), nested `{addr: {street, city}}`, rest `{...rest}`;
    * array elements, rest, and nested patterns.
    */
  private[ingest] def destructuredNames(pat: String): Seq[String] = {
    val t = pat.trim
    if (t.length < 2 || !(t.head == '{' || t.head == '[')) return Seq.empty
    val isObj = t.head == '{'
    val body = t.drop(1).dropRight(1)
    val parts = ArrayBuffer[String]()
    val sb = new StringBuilder
    var d = 0
    body.foreach {
      case ch @ ('{' | '[' | '(') => d += 1; sb += ch
      case ch @ ('}' | ']' | ')') => d -= 1; sb += ch
      case ',' if d == 0 => parts += sb.toString; sb.clear()
      case ch => sb += ch
    }
    if (sb.nonEmpty) parts += sb.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty).flatMap { p =>
      if (p.startsWith("..."))
        Seq(p.drop(3).trim).filter(_.matches("[A-Za-z_$][\\w$]*"))
      else {
        val v = if (isObj && p.contains(':')) p.substring(p.indexOf(':') + 1).trim else p
        val noDefault = v.split("=").head.trim
        if (noDefault.startsWith("{") || noDefault.startsWith("["))
          destructuredNames(noDefault)
        else Seq(noDefault).filter(_.matches("[A-Za-z_$][\\w$]*"))
      }
    }.filter(includeVar)
  }
  private val Builtins = Set("console", "require", "parseInt", "parseFloat", "String",
    "Number", "Boolean", "Array", "Object", "Promise", "setTimeout", "setInterval")

  /** Strip string/template literals and comments so a brace INSIDE them
    * (`const CLOSE = "}"`) can't desync the depth tracker. Line-local
    * approximation — multiline template literals / block comments are the
    * residual blind spot of a structural parser.
    */
  private def stripLiterals(l: String): String =
    l.replaceAll("""'(?:\\.|[^'\\])*'""", "''")
      .replaceAll(""""(?:\\.|[^"\\])*"""", "\"\"")
      .replaceAll("""`(?:\\.|[^`\\])*`""", "``")
      .replaceAll("""/\*.*?\*/""", "")
      .replaceAll("""//.*$""", "")

  private val AsyncWord = """\basync\b""".r

  def parse(relPath: String, content: String): ParserResult = {
    val entities = ArrayBuffer[Entity]()
    val relations = ArrayBuffer[Relation]()
    val implChunks = ArrayBuffer[Chunk]()
    val lines = content.split("\n", -1)
    // brace accounting always runs on literal-stripped lines
    val braceLines = lines.map(stripLiterals)
    entities += Entity(relPath, "file", relPath, 1, lines.length,
      Seq(s"JS/TS source with ${lines.length} lines"), "", "")

    /** Last line (0-based) of the brace block opened ON `start`; `start`
      * itself when the declaration line opens no block (one-liners,
      * declaration-only lines) — so a braceless line never swallows the
      * following construct's block.
      */
    def blockEnd(start: Int): Int = {
      var d = 0
      var opened = false
      braceLines(start).foreach {
        case '{' => d += 1; opened = true
        case '}' => d -= 1
        case _ =>
      }
      if (!opened || d <= 0) return start
      var i = start + 1
      while (i < lines.length) {
        braceLines(i).foreach {
          case '{' => d += 1
          case '}' => d -= 1
          case _ =>
        }
        if (d <= 0) return i
        i += 1
      }
      lines.length - 1
    }

    /** Body text of a block declared on line `i`: the declaration line's
      * tail after its opening brace plus the following lines — so
      * one-liner bodies (`f(x) { return g(x); }`) still yield their calls.
      */
    def bodyOf(i: Int, endL: Int): String =
      (lines(i).dropWhile(_ != '{').drop(1) +: lines.slice(i + 1, endL + 1)).mkString("\n")

    def decoratorsAbove(line: Int): Seq[String] = {
      var i = line - 1
      val out = ArrayBuffer[String]()
      while (i >= 0 && (DecoratorRe.findFirstIn(lines(i)).isDefined || lines(i).trim.isEmpty)) {
        DecoratorRe.findFirstMatchIn(lines(i)).foreach(m => out += m.group(1))
        i -= 1
      }
      out.toSeq.reverse
    }

    def callsIn(body: String, self: String): Seq[String] =
      CallRe.findAllMatchIn(body).map(_.group(1)).toSeq.distinct
        .filterNot(StmtKeywords.contains).filterNot(Builtins.contains).filterNot(_ == self)

    def implChunk(name: String, entityType: String, startL: Int, endL: Int): Unit = {
      val body = lines.slice(startL, endL + 1).mkString("\n")
      implChunks += Chunk(Ids.entityChunkId(relPath, name, "implementation"),
        "implementation", name, entityType, relPath, startL + 1, endL + 1,
        body, "", Ids.sha256Hex(body), "", "", hasImplementation = true)
    }

    def funcObs(name: String, sigLabel: String, body: String, decs: Seq[String],
                isAsync: Boolean): (Seq[String], Seq[String]) = {
      val calls = callsIn(body, name)
      val excs = CatchRe.findAllMatchIn(body).map(_.group(1)).toSeq.distinct
      val obs = ArrayBuffer[String](s"function: $name", s"signature: $sigLabel")
      if (calls.nonEmpty) obs += s"calls: ${calls.take(5).mkString(", ")}"
      if (excs.nonEmpty) obs += s"handles exceptions: ${excs.mkString(", ")}"
      if (decs.nonEmpty) obs += s"decorators: ${decs.mkString(", ")}"
      if (isAsync) obs += "async function"
      (obs.toSeq, calls)
    }

    def ioEdges(owner: String, body: String): Unit =
      IoRe.findAllMatchIn(body).toSeq
        .map(m => (m.group(1), Option(m.group(2)).getOrElse(""))).distinct.take(10)
        .foreach { case (op, target) =>
          relations += Relation(owner, if (target.nonEmpty) target else op, "uses", s"io:$op", "", 0.8)
        }

    var depth = 0
    // (class name, depth at declaration) — methods live at depth head+1
    var classStack: List[(String, Int)] = Nil

    lines.zipWithIndex.foreach { case (line, i) =>
      val depthBefore = depth
      val inClassMember = classStack.headOption.exists(_._2 + 1 == depthBefore)

      ImportRe.findFirstMatchIn(line).foreach { m =>
        relations += Relation(relPath, m.group(1), "imports", "module", "", 1.0)
      }
      RequireRe.findAllMatchIn(line).foreach { m =>
        relations += Relation(relPath, m.group(1), "imports", "require", "", 1.0)
      }
      // ES-module export surface: named re-exports, star re-exports and
      // named export lists — the file's public API the reference records
      // in its exports metadata (analysis/javascript_parser.py export
      // handling); re-exports also add module edges for the import graph.
      ReExportStarRe.findFirstMatchIn(line).foreach { m =>
        relations += Relation(relPath, m.group(1), "reexports", "star", "", 1.0)
      }
      ExportListRe.findFirstMatchIn(line).foreach { m =>
        val names = m.group(1).split(",").map(_.trim.split("\\s+as\\s+").last.trim)
          .filter(_.matches("[A-Za-z_$][\\w$]*"))
        val from = Option(m.group(2))
        from.foreach(f => relations += Relation(relPath, f, "reexports", "named", "", 1.0))
        names.foreach { n =>
          relations += Relation(relPath, n, "exports", if (from.isDefined) "reexport" else "named", "", 1.0)
        }
      }
      // findFirstMatchIn: these regexes are prefixes of the line (Scala's
      // `case Regex(..)` would demand a full-line match)
      ClassRe.findFirstMatchIn(line) match {
        case Some(m) =>
          val (name, ext, impls) = (m.group(1), m.group(2), m.group(3))
          val endL = blockEnd(i)
          val body = lines.slice(i, endL + 1).mkString("\n")
          val obs = ArrayBuffer[String](s"class: $name")
          Option(ext).foreach { e =>
            obs += s"extends: $e"
            relations += Relation(name, e, "extends", "", "", 1.0)
          }
          Option(impls).foreach(s => stripGenerics(s).split(",").map(_.trim)
            .filter(_.nonEmpty).foreach { im =>
              relations += Relation(name, im, "implements", "", "", 1.0)
            })
          val decs = decoratorsAbove(i)
          if (decs.nonEmpty) obs += s"decorators: ${decs.mkString(", ")}"
          val methods = MethodRe.findAllMatchIn(body).map(_.group(1)).toSeq
            .filterNot(StmtKeywords.contains).filterNot(_ == name).distinct.take(5)
          if (methods.nonEmpty) obs += s"key methods: ${methods.mkString(", ")}"
          entities += Entity(name, "class", relPath, i + 1, endL + 1, obs.toSeq, "", line.trim.take(120))
          relations += Relation(relPath, name, "contains", "", "", 1.0)
          implChunk(name, "class", i, endL)
          classStack = (name, depthBefore) :: classStack
        case None => InterfaceRe.findFirstMatchIn(line) match {
          case Some(m) =>
            // interface entity spans its block and carries an impl chunk,
            // like the reference's _create_interface_entity
            // (javascript_parser.py:395-437) which emits entity + chunks
            val name = m.group(1)
            val endL = blockEnd(i)
            entities += Entity(name, "interface", relPath, i + 1, endL + 1,
              Seq(s"interface: $name"), "", line.trim.take(120))
            relations += Relation(relPath, name, "contains", "", "", 1.0)
            Option(m.group(2)).foreach(s => stripGenerics(s).split(",").map(_.trim)
              .filter(_.nonEmpty).foreach { e =>
                relations += Relation(name, e, "extends", "", "", 1.0)
              })
            if (endL > i) implChunk(name, "interface", i, endL)
          case None => FuncRe.findFirstMatchIn(line) match {
            case Some(m) =>
              val (name, params) = (m.group(1), m.group(2))
              val endL = blockEnd(i)
              val body = bodyOf(i, endL)
              val (obs, calls) = funcObs(name, s"function $name($params)", body,
                decoratorsAbove(i), AsyncWord.findFirstIn(line).isDefined)
              entities += Entity(name, "function", relPath, i + 1, endL + 1, obs, "",
                s"function $name($params)")
              relations += Relation(relPath, name, "contains", "", "", 1.0)
              calls.foreach(c => relations += Relation(name, c, "calls", "", s"$relPath:${i + 1}", 0.9))
              ioEdges(name, body)
              implChunk(name, "function", i, endL)
            case None => ArrowRe.findFirstMatchIn(line) match {
              case Some(m) =>
                val name = m.group(1)
                val endL = blockEnd(i)
                val body = lines.slice(i, endL + 1).mkString("\n")
                val (obs0, calls) = funcObs(name, line.trim.take(120), body,
                  decoratorsAbove(i), AsyncWord.findFirstIn(line).isDefined)
                entities += Entity(name, "function", relPath, i + 1, endL + 1,
                  obs0 :+ "arrow function", "", line.trim.take(120))
                relations += Relation(relPath, name, "contains", "", "", 1.0)
                calls.foreach(c => relations += Relation(name, c, "calls", "", s"$relPath:${i + 1}", 0.9))
                if (endL > i) implChunk(name, "function", i, endL)
              case None if inClassMember =>
                // class body at member depth: methods, arrow-function
                // fields (methods), plain fields
                val cls = classStack.head._1
                MethodRe.findFirstMatchIn(line) match {
                  case Some(m) if !StmtKeywords.contains(m.group(1)) =>
                    val (name, params) = (m.group(1), m.group(2))
                    val endL = blockEnd(i)
                    val body = bodyOf(i, endL)
                    val (obs, calls) = funcObs(name, s"$name($params)", body,
                      decoratorsAbove(i), AsyncWord.findFirstIn(line).isDefined)
                    entities += Entity(name, "method", relPath, i + 1, endL + 1,
                      obs :+ s"member of: $cls", "", s"$name($params)")
                    relations += Relation(cls, name, "contains", "", "", 1.0)
                    calls.foreach(c => relations += Relation(name, c, "calls", "", s"$relPath:${i + 1}", 0.9))
                    ioEdges(name, body)
                    implChunk(name, "method", i, endL)
                  case _ => FieldArrowRe.findFirstMatchIn(line) match {
                    case Some(m) =>
                      val name = m.group(1)
                      val endL = blockEnd(i)
                      val body = lines.slice(i, endL + 1).mkString("\n")
                      val (obs0, calls) = funcObs(name, line.trim.take(120), body,
                        decoratorsAbove(i), AsyncWord.findFirstIn(line).isDefined)
                      entities += Entity(name, "method", relPath, i + 1, endL + 1,
                        obs0 ++ Seq("arrow function", s"member of: $cls"), "", line.trim.take(120))
                      relations += Relation(cls, name, "contains", "", "", 1.0)
                      calls.foreach(c => relations += Relation(name, c, "calls", "", s"$relPath:${i + 1}", 0.9))
                      if (endL > i) implChunk(name, "method", i, endL)
                    case None => FieldRe.findFirstMatchIn(line) match {
                      case Some(m) =>
                        val name = m.group(1)
                        entities += Entity(name, "variable", relPath, i + 1, i + 1,
                          Seq(s"field: $name", s"member of: $cls"), "", line.trim.take(80))
                        relations += Relation(cls, name, "contains", "", "", 1.0)
                      case None =>
                    }
                  }
                }
              case None => VarRe.findFirstMatchIn(line) match {
                case Some(m) if depthBefore == 0 && includeVar(m.group(1)) =>
                  val name = m.group(1)
                  val t = if (name.toUpperCase(Locale.ROOT) == name) "constant" else "variable"
                  entities += Entity(name, t, relPath, i + 1, i + 1,
                    Seq(s"$t: $name"), "", line.trim.take(80))
                  relations += Relation(relPath, name, "contains", "", "", 1.0)
                case Some(_) =>
                case None if depthBefore == 0 =>
                  // module-level destructuring declaration: bind each name
                  // the reference's pattern walk binds (js_parser.py:958-1105)
                  DestructRe.findFirstMatchIn(stripLiterals(line)).foreach { m =>
                    destructuredNames(m.group(1)).distinct.foreach { name =>
                      entities += Entity(name, "variable", relPath, i + 1, i + 1,
                        Seq(s"variable: $name", "destructured"), "", line.trim.take(80))
                      relations += Relation(relPath, name, "contains", "", "", 1.0)
                    }
                  }
                case _ =>
              }
            }
          }
        }
      }
      line.foreach {
        case '{' => depth += 1
        case '}' => depth -= 1
        case _ =>
      }
      while (classStack.nonEmpty && depth <= classStack.head._2) classStack = classStack.tail
    }
    ParserResult(relPath, Ids.sha256Hex(content), entities.toSeq, relations.toSeq,
      implChunks.toSeq, Seq.empty)
  }
}

/** HTML parser (reference: analysis/html_parser.py:19-578): elements with
  * id, links, inline style CSS entities.
  */
object HtmlParser {
  private val IdRe = """<(\w+)[^>]*\bid\s*=\s*["']([^"']+)["']""".r
  private val LinkRe = """<a[^>]*\bhref\s*=\s*["']([^"']+)["']""".r
  private val ClassRefRe = """\bclass\s*=\s*["']([^"']+)["']""".r
  private val StyleRe = """(?s)<style[^>]*>(.*?)</style>""".r
  private val TitleRe = """(?s)<title[^>]*>(.*?)</title>""".r
  private val MetaDescRe = """<meta[^>]*\bname\s*=\s*["']description["'][^>]*\bcontent\s*=\s*["']([^"']*)["']""".r
  private val HeadingRe = """(?s)<h([1-6])[^>]*>(.*?)</h\1>""".r
  private val SrcRe = """<(?:script|img)[^>]*\bsrc\s*=\s*["']([^"']+)["']""".r
  private val TagStripRe = """<[^>]*>""".r
  // custom elements (hyphenated tag) and data-component markers are the
  // reference's "components as classes" family (html_parser.py:134-182)
  private val ComponentTagRe = """<([a-z][\w]*-[\w-]+)[\s>/]""".r
  private val DataComponentRe = """\bdata-component\s*=\s*["']([^"']+)["']""".r
  private val FormActionRe = """<form[^>]*\baction\s*=\s*["']([^"']+)["']""".r

  def parse(relPath: String, content: String): ParserResult = {
    val entities = ArrayBuffer[Entity]()
    val relations = ArrayBuffer[Relation]()
    val lines = content.split("\n", -1)
    // document-level metadata rides the file entity's observations
    // (reference: analysis/html_parser.py title/meta extraction)
    val fileObs = ArrayBuffer[String](s"HTML file with ${lines.length} lines")
    TitleRe.findFirstMatchIn(content).foreach(m =>
      fileObs += s"title: ${TagStripRe.replaceAllIn(m.group(1), "").trim.take(120)}")
    MetaDescRe.findFirstMatchIn(content).foreach(m =>
      fileObs += s"description: ${m.group(1).trim.take(160)}")
    entities += Entity(relPath, "file", relPath, 1, lines.length, fileObs.toSeq, "", "")
    // heading outline as documentation entities — the HTML twin of the
    // markdown section parse
    HeadingRe.findAllMatchIn(content).toSeq.take(50).foreach { m =>
      val text = TagStripRe.replaceAllIn(m.group(2), "").trim.take(120)
      if (text.nonEmpty) {
        entities += Entity(text, "documentation", relPath, 1, 1,
          Seq(s"h${m.group(1)} heading: $text"), "", "")
        relations += Relation(relPath, text, "contains", "", "", 1.0)
      }
    }
    SrcRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.take(100).foreach { src =>
      relations += Relation(relPath, src, "references", "asset", "", 1.0)
    }
    // inline <style> blocks run through the CSS parser
    // (reference: analysis/html_parser.py inline-CSS extraction)
    StyleRe.findAllMatchIn(content).zipWithIndex.foreach { case (m, si) =>
      val css = CssParser.parse(s"$relPath#style$si", m.group(1))
      entities ++= css.entities.filter(_.entityType != "file")
        .map(e => e.copy(filePath = relPath))
      relations ++= css.relations.map(r => r.copy(fromEntity =
        if (r.fromEntity == s"$relPath#style$si") relPath else r.fromEntity))
    }
    IdRe.findAllMatchIn(content).toSeq.take(100).foreach { m =>
      entities += Entity(s"#${m.group(2)}", "variable", relPath, 1, 1,
        Seq(s"element <${m.group(1)}> with id ${m.group(2)}"), "", "")
      relations += Relation(relPath, s"#${m.group(2)}", "contains", "", "", 1.0)
    }
    LinkRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.take(100).foreach { href =>
      relations += Relation(relPath, href, "references", "link", "", 1.0)
    }
    // components as classes (reference html_parser.py:134-182): custom
    // elements by hyphenated tag, plus explicit data-component markers
    ComponentTagRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.take(100)
      .foreach { tag =>
        entities += Entity(s"<$tag>", "class", relPath, 1, 1,
          Seq(s"Custom HTML component: $tag"), "", "")
        relations += Relation(relPath, s"<$tag>", "contains", "", "", 1.0)
      }
    DataComponentRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.take(100)
      .foreach { comp =>
        entities += Entity(s"Component:$comp", "class", relPath, 1, 1,
          Seq(s"Data component: $comp"), "", "")
        relations += Relation(relPath, s"Component:$comp", "contains", "", "", 1.0)
      }
    // form actions are link relations (reference html_parser.py:204-214)
    FormActionRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.take(100)
      .foreach { action =>
        relations += Relation(relPath, action, "references", "form_action", "", 1.0)
      }
    ClassRefRe.findAllMatchIn(content).flatMap(_.group(1).split("\\s+")).toSeq.distinct.take(100)
      .foreach { cls =>
        relations += Relation(relPath, s".$cls", "uses", "css_class", "", 0.8)
      }
    ParserResult(relPath, Ids.sha256Hex(content), entities.toSeq, relations.toSeq, Seq.empty, Seq.empty)
  }
}

/** CSS parser (reference: analysis/css_parser.py:18-273): class/id/variable
  * definitions, @import relations.
  */
object CssParser {
  // class/id tokens are matched inside SELECTOR text only (the spans
  // immediately preceding '{', comments stripped) — matching the whole
  // file would hit hex colors (`#fff`) in declarations, and the previous
  // line-start anchor missed compound selectors (`div.btn:hover`,
  // `.a.b`) and rules nested in @media. Reference extracts per selector
  // node (css_parser.py:98-172); the lookahead split is the structural
  // equivalent.
  private val SelectorSpanRe = """[^{}]+(?=\{)""".r
  private val ClassRe = """\.([A-Za-z_][\w-]*)""".r
  private val IdRe = """#([A-Za-z_][\w-]*)""".r
  private val VarRe = """--([\w-]+)\s*:""".r
  private val ImportRe = """@import\s+(?:url\()?["']?([^"')]+)""".r
  private val MediaRe = """@media\s+([^{]+)\{""".r
  private val KeyframesRe = """@keyframes\s+([A-Za-z_][\w-]*)""".r

  def parse(relPath: String, content: String): ParserResult = {
    val entities = ArrayBuffer[Entity]()
    val relations = ArrayBuffer[Relation]()
    val lines = content.split("\n", -1)
    entities += Entity(relPath, "file", relPath, 1, lines.length,
      Seq(s"CSS file with ${lines.length} lines"), "", "")
    val noComments = content.replaceAll("""(?s)/\*.*?\*/""", "")
    val selectorText = SelectorSpanRe.findAllIn(noComments).mkString("\n")
    ClassRe.findAllMatchIn(selectorText).map(_.group(1)).toSeq.distinct.take(200).foreach { c =>
      entities += Entity(s".$c", "variable", relPath, 1, 1, Seq(s"css class: .$c"), "", "")
      relations += Relation(relPath, s".$c", "contains", "", "", 1.0)
    }
    IdRe.findAllMatchIn(selectorText).map(_.group(1)).toSeq.distinct.take(200).foreach { c =>
      entities += Entity(s"#$c", "variable", relPath, 1, 1, Seq(s"css id: #$c"), "", "")
      relations += Relation(relPath, s"#$c", "contains", "", "", 1.0)
    }
    VarRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.take(200).foreach { v =>
      entities += Entity(s"--$v", "constant", relPath, 1, 1, Seq(s"css variable: --$v"), "", "")
      relations += Relation(relPath, s"--$v", "contains", "", "", 1.0)
    }
    ImportRe.findAllMatchIn(content).map(_.group(1)).toSeq.distinct.foreach { im =>
      relations += Relation(relPath, im, "imports", "css", "", 1.0)
    }
    // @keyframes are named, referencable definitions; @media conditions
    // are responsive-design structure (reference css_parser at-rule walk)
    KeyframesRe.findAllMatchIn(noComments).map(_.group(1)).toSeq.distinct.take(100).foreach { k =>
      entities += Entity(s"@keyframes $k", "function", relPath, 1, 1,
        Seq(s"css animation: $k"), "", "")
      relations += Relation(relPath, s"@keyframes $k", "contains", "", "", 1.0)
    }
    MediaRe.findAllMatchIn(noComments).map(_.group(1).trim).toSeq.distinct.take(50).foreach { q =>
      relations += Relation(relPath, s"@media $q", "uses", "media_query", "", 0.8)
    }
    ParserResult(relPath, Ids.sha256Hex(content), entities.toSeq, relations.toSeq, Seq.empty, Seq.empty)
  }
}
