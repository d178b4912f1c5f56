package graft.ingest

import java.util.Locale
import scala.collection.mutable.ArrayBuffer
import graft.core.Ids
import graft.core.Model._

/** Structural Python parser (line/regex-based).
  *
  * Targets the reference's *output contract* — the entity/relation/chunk
  * tables of SURVEY.md §2.2 (reference implementation: tree-sitter + Jedi,
  * analysis/parser.py:119-1490) — not AST equality. Extracts: functions,
  * methods, classes, module variables/constants, imports; INHERITS /
  * IMPORTS / CALLS / CONTAINS edges; per-function observations (signature,
  * docstring purpose, calls, exceptions, complexity, decorators, async) and
  * implementation chunks with semantic metadata.
  */
object PythonParser {

  // NB: used via `line match` which anchors to the FULL line — each pattern
  // therefore ends in `.*` to tolerate trailing content. Def/class lines
  // are comment-stripped and continuation-joined by [[joinLogicalLines]]
  // first, so the params group can match GREEDILY to the signature's last
  // `)` — a lazy `[^)]*` would cut `def f(x=(1, 2))` at the inner paren.
  private val DefRe = """^(\s*)(?:async\s+)?def\s+([A-Za-z_]\w*)\s*\((.*)\)\s*(?:->\s*([^:]+))?:.*""".r
  private val ClassRe = """^(\s*)class\s+([A-Za-z_]\w*)\s*(?:\((.*)\))?\s*:.*""".r
  private val ImportRe = """^import\s+([\w. ,]+).*""".r
  private val FromImportRe = """^from\s+([\w.]+)\s+import\s+(.+)""".r
  // plain, tuple, starred, and (nested) parenthesized unpacks
  // (reference: analysis/parser.py:521-607)
  private val AssignRe = """^([(\[]?\s*\*?[A-Za-z_][\w.,()\[\]* ]*?[)\]]?)\s*(?::[^=]+)?=[^=].*""".r
  private val WalrusRe = """\(\s*([A-Za-z_]\w*)\s*:=""".r
  private val CallRe = """([A-Za-z_]\w*)\s*\(""".r
  private val AttrRe = """([A-Za-z_]\w*)\.([A-Za-z_]\w*)""".r
  private val ExceptRe = """except\s+([A-Za-z_]\w*)""".r
  private val DecoratorRe = """^\s*@([\w.]+)""".r
  // file-operation patterns — the reference's ~30 I/O call families
  // (analysis/parser.py:1206-1242 FILE_OPERATIONS), detected as prefix
  // calls (`json.load(...)`), method calls (`df.to_csv(...)`,
  // `p.read_text()`), and the Path(...).open() special case. Relation
  // targets are first-string-literal args; bare file modes are filtered
  // (parser.py:1274-1283).
  private val PrefixOpRe =
    ("""(?<![\w.])(open|json\.loads|json\.load|json\.dumps|json\.dump|yaml\.safe_load|yaml\.load|yaml\.dump|""" +
      """pickle\.loads|pickle\.load|pickle\.dumps|pickle\.dump|csv\.reader|csv\.writer|""" +
      """(?:pd|pandas)\.read_\w+|requests\.(?:get|post|put|delete)|urllib\.request\.urlopen|""" +
      """toml\.load|(?:xml\.etree\.ElementTree|ET)\.parse)\s*\(\s*(?:[rbf]{0,2}['"]([^'"]*)['"])?""").r
  private val MethodOpRe =
    """\.(to_json|to_csv|to_excel|read_text|read_bytes|write_text|write_bytes)\s*\(\s*(?:[rbf]{0,2}['"]([^'"]*)['"])?""".r
  private val PathOpenRe = """Path\(\s*[rbf]{0,2}['"]([^'"]+)['"]\s*\)\s*\.open\s*\(""".r
  private val PathRecvRe = """Path\(\s*[rbf]{0,2}['"]([^'"]+)['"]\s*\)""".r
  private val IniReadRe = """\.read\(\s*[rbf]{0,2}['"]([^'"]+\.ini)['"]""".r
  private val FileModes = Set("r", "w", "a", "x", "b", "t", "rb", "wb", "ab",
    "rt", "wt", "at", "r+", "w+", "a+", "x+")

  /** Typed op name for prefix-call ops (reference parser.py:1206-1242). */
  private def opType(op: String): String = op match {
    case "open"                  => "file_open"
    case "json.load"             => "json_load"
    case "json.loads"            => "json_parse"
    case "json.dump" | "json.dumps"     => "json_write"
    case "yaml.load" | "yaml.safe_load" => "yaml_load"
    case "yaml.dump"             => "yaml_write"
    case "pickle.load" | "pickle.loads" => "pickle_load"
    case "pickle.dump" | "pickle.dumps" => "pickle_write"
    case "csv.reader"            => "csv_read"
    case "csv.writer"            => "csv_write"
    case "requests.get"          => "requests_get"
    case "requests.post"         => "requests_post"
    case "requests.put"          => "requests_put"
    case "requests.delete"       => "requests_delete"
    case "urllib.request.urlopen" => "urllib_open"
    case "toml.load"             => "toml_read"
    case p if p.contains(".read_") => s"pandas_${p.substring(p.indexOf(".read_") + 6)}_read"
    case p if p.endsWith(".parse") => "xml_parse"
    case other                   => other
  }

  /** Typed op name for method-call ops (`.to_csv` → pandas, `.read_text` → pathlib). */
  private def methodOpType(m: String): String = m match {
    case "to_json"  => "pandas_json_write"
    case "to_csv"   => "pandas_csv_write"
    case "to_excel" => "pandas_excel_write"
    case other      => s"path_$other"
  }
  // docstring-section patterns (reference: observation_extractor.py:313-380)
  private val DocArgsRe = """(?is)Args?:\s*(.*?)(?=\n\s*\n|\n\s*Returns?:|\n\s*Raises?:|\z)""".r
  private val DocReturnsRe = """(?is)Returns?:\s*(.*?)(?=\n\s*\n|\n\s*Raises?:|\n\s*Args?:|\z)""".r
  private val DocRaisesRe = """(?is)Raises?:\s*(.*?)(?=\n\s*\n|\n\s*Returns?:|\n\s*Args?:|\z)""".r
  private val DocParamNameRe = """(\w+):\s""".r
  private val DocExceptionRe = """(\w+(?:Error|Exception)):""".r
  private val DocBehaviorRe =
    ("""\b(validates?|authenticates?|processes?|handles?|manages?|creates?|deletes?|updates?|""" +
      """retrieves?|calculates?|generates?|transforms?|parses?|formats?)\b""").r
  private val ReturnStmtRe = """(?m)^\s*return\s+(\S.*?)\s*$""".r
  // framework detection by content keyword (reference:
  // observation_extractor.py:909-991). Deviations from the reference, on
  // purpose: the reference's `import ` → Node.js and bare `$` → Vue checks
  // would tag virtually every Python function, so frameworks here require a
  // framework-specific token.
  private val FrameworkChecks: Seq[(String, Seq[String])] = Seq(
    "Express.js" -> Seq("express"),
    "React" -> Seq("react", "usestate", "useeffect"),
    "Vue.js" -> Seq("vue"),
    "Angular" -> Seq("angular", "@component", "@injectable"),
    "Mongoose" -> Seq("mongoose", "findone(", "findbyid("),
    "Sequelize" -> Seq("sequelize"),
    // the reference also keys Jest on bare `it(`, which substring-matches
    // `split(`/`exit(` in Python bodies — dropped here
    "Jest" -> Seq("jest", "describe("),
    "Mocha/Chai" -> Seq("mocha", "chai"),
    "JWT/Auth" -> Seq("jwt", "jsonwebtoken", "passport"))

  // `x: T = ...` — an explicit annotation outranks RHS inference
  private val AnnotAssignRe = """^\s*[A-Za-z_]\w*\s*:\s*([^=]+?)\s*=""".r
  private val CtorRe = """^(?:[A-Za-z_]\w*\.)*([A-Z]\w*)\s*\(""".r
  private val IntLitRe = """[+-]?\d+""".r
  private val FloatLitRe = """[+-]?(?:\d+\.\d*|\.\d+|\d+[eE][+-]?\d+)(?:[eE][+-]?\d+)?""".r

  /** Infer a variable's type from its assignment RHS — the structural
    * analog of the Jedi inference the reference taps for
    * `inferred_types` (analysis/parser.py:919-1095). Literals map to
    * builtin type names; `Name(...)` / `pkg.Name(...)` constructor calls
    * map to `Name` (classes are conventionally capitalized — a lowercase
    * call is a function whose return type a structural parser cannot
    * know, so it stays uninferred rather than guessed).
    */
  private[ingest] def inferRhsType(rhs: String): Option[String] = {
    val r = rhs.trim.takeWhile(_ != '#').trim
    if (r.isEmpty) None
    else if (r.startsWith("\"") || r.startsWith("'") ||
      r.matches("(?s)[rfu]{1,2}['\"].*")) Some("str")
    else if (r.matches("(?s)(?:rb|br|b)['\"].*")) Some("bytes")
    else if (r == "True" || r == "False") Some("bool")
    else if (r == "None") Some("NoneType")
    else if (IntLitRe.matches(r)) Some("int")
    else if (FloatLitRe.matches(r)) Some("float")
    else if (r.startsWith("[")) Some("list")
    else if (r.startsWith("{")) Some(if (r.contains(":")) "dict" else "set")
    else if (r.startsWith("(")) Some("tuple")
    else if (r.startsWith("lambda")) Some("function")
    else CtorRe.findFirstMatchIn(r).map(_.group(1))
  }

  /** Bracket- and string-aware top-level comma split: annotations and
    * defaults nest commas (`dict[str, int]`, `=(1, 2)`), so a plain
    * `split(",")` mis-parses any generic-typed parameter list.
    */
  private[ingest] def splitTopLevel(s: String): Seq[String] = {
    val out = ArrayBuffer[String](); val cur = new StringBuilder
    var depth = 0; var inStr: Char = 0; var escaped = false
    s.foreach { c =>
      if (inStr != 0) {
        cur += c
        // a backslash-escaped quote (x="a\",b") must not end the string —
        // the following comma is still inside the literal
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == inStr) inStr = 0
      }
      else c match {
        case '(' | '[' | '{' => depth += 1; cur += c
        case ')' | ']' | '}' => depth -= 1; cur += c
        case '\'' | '"'      => inStr = c; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case other           => cur += other
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val ParamRe = """^([A-Za-z_]\w*)\s*(?::\s*([^=]+?))?\s*(?:=\s*(.+))?$""".r

  /** Per-parameter resolved types — annotation first, else the default
    * literal's inferred type ([[inferRhsType]]); `*args`/`**kwargs` are
    * structurally `tuple`/`dict`. Returns `(name, type?, wasInferred)`
    * where `wasInferred` marks facts the annotation alone doesn't show.
    * `self`/`cls` are omitted, like a Jedi bound-method signature.
    */
  private[ingest] def inferParamTypes(params: String): Seq[(String, Option[String], Boolean)] =
    splitTopLevel(params).flatMap { p =>
      if (p == "self" || p == "cls" || p == "/" || p == "*") None
      else if (p.startsWith("**"))
        Some((p.drop(2).takeWhile(c => c.isLetterOrDigit || c == '_'), Some("dict"), true))
      else if (p.startsWith("*"))
        Some((p.drop(1).takeWhile(c => c.isLetterOrDigit || c == '_'), Some("tuple"), true))
      else p match {
        case ParamRe(name, annot, default) =>
          Option(annot).map(_.trim).filter(_.nonEmpty) match {
            case Some(a) => Some((name, Some(a), false))
            case None =>
              val t = Option(default).flatMap(inferRhsType)
              Some((name, t, t.isDefined))
          }
        case _ => None
      }
    }

  /** Return-type resolution: the `->` annotation wins; else `yield` makes
    * a generator; else the unanimous inferred type of the return
    * expressions — a literal's type, or a bare name flowing a resolved
    * parameter type through (`def f(a: int): return a` → int). The
    * structural slice of what the reference gets from Jedi's resolved
    * signature (analysis/parser.py:1100-1107).
    */
  private[ingest] def inferReturnType(retAnnot: Option[String], retExprs: Seq[String],
                                      body: String,
                                      paramTypes: Map[String, String]): (Option[String], Boolean) =
    retAnnot match {
      case Some(r) => (Some(r), false)
      case None =>
        if ("""(?m)^\s*yield\b""".r.findFirstIn(body).isDefined) (Some("generator"), true)
        else {
          val ts = retExprs.map(e => inferRhsType(e).orElse(paramTypes.get(e.trim)))
          if (ts.nonEmpty && ts.forall(_.isDefined) && ts.flatten.distinct.size == 1)
            (ts.head, true)
          else (None, false)
        }
    }

  /** Args/Returns/Raises/Examples/behavior-keyword observations from a full
    * docstring (reference: observation_extractor.py:313-380).
    */
  private[ingest] def docstringPatternObs(doc: String): Seq[String] = {
    if (doc.isEmpty) return Seq.empty
    val out = ArrayBuffer[String]()
    DocArgsRe.findFirstMatchIn(doc).map(_.group(1).trim).filter(_.nonEmpty).foreach { argText =>
      val names = DocParamNameRe.findAllMatchIn(argText).map(_.group(1)).toSeq
      if (names.nonEmpty) out += s"doc params: ${names.take(3).mkString(", ")}"
      else out += "has parameter documentation"
    }
    DocReturnsRe.findFirstMatchIn(doc).map(_.group(1).trim).filter(_.nonEmpty).foreach { retText =>
      val desc = retText.split("\n")(0).trim
      if (desc.nonEmpty) out += s"doc returns: ${desc.take(50)}${if (desc.length > 50) "..." else ""}"
    }
    DocRaisesRe.findFirstMatchIn(doc).map(_.group(1).trim).filter(_.nonEmpty).foreach { raisesText =>
      val excs = DocExceptionRe.findAllMatchIn(raisesText).map(_.group(1)).toSeq
      if (excs.nonEmpty) out += s"doc raises: ${excs.take(3).mkString(", ")}"
      else out += "documents exceptions"
    }
    if ("""(?i)Examples?:""".r.findFirstIn(doc).isDefined) out += "has usage examples"
    val behaviors = DocBehaviorRe.findAllMatchIn(doc.toLowerCase(Locale.ROOT)).map(_.group(1)).toSeq.distinct.sorted.take(3)
    if (behaviors.nonEmpty) out += s"behaviors: ${behaviors.mkString(", ")}"
    out.toSeq
  }

  /** Framework usage observations (reference: observation_extractor.py:909-991). */
  private[ingest] def frameworkObs(body: String): Seq[String] = {
    val lc = body.toLowerCase(Locale.ROOT)
    FrameworkChecks.collect { case (fw, tokens) if tokens.exists(lc.contains) => fw }
  }

  private val ControlKeywords = Seq("if ", "elif ", "for ", "while ", "except", "with ", " and ", " or ")
  private val Builtins = Set("print", "len", "range", "str", "int", "float", "list", "dict", "set",
    "tuple", "isinstance", "super", "type", "open", "enumerate", "zip", "map", "filter", "sorted")

  /** Quote-aware net bracket depth of a line (chars after an unquoted
    * `#` ignored) — the Python tokenizer's implicit-continuation rule.
    */
  private[ingest] def netDepth(line: String): Int = {
    var depth = 0; var inStr: Char = 0; var escaped = false
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (inStr != 0) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == inStr) inStr = 0
      } else c match {
        case '\'' | '"' => inStr = c
        case '#' => return depth
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    depth
  }

  /** The line up to its first unquoted `#` — signatures keep their
    * defaults-with-hashes (`x="#tag"`), comments never reach the regexes.
    */
  private[ingest] def stripComment(line: String): String = {
    var inStr: Char = 0; var escaped = false
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (inStr != 0) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == inStr) inStr = 0
      } else if (c == '\'' || c == '"') inStr = c
      else if (c == '#') return line.substring(0, i)
      i += 1
    }
    line
  }

  /** Join multi-physical-line def/class/from-import statements into one
    * logical line at the statement's FIRST index (continuations become
    * empty strings, preserving every downstream line number and block
    * extent). Joins on open brackets and trailing backslash, the two
    * continuation rules tree-sitter gets for free and a line-based walk
    * must reconstruct; capped at 100 lines so a syntax error can't chain
    * the whole file.
    */
  private[ingest] def joinLogicalLines(lines: Array[String]): Array[String] = {
    val out = lines.clone()
    var i = 0
    while (i < out.length) {
      val t = out(i).trim
      val joinable = t.startsWith("def ") || t.startsWith("async def ") ||
        t.startsWith("class ") || t.startsWith("from ")
      if (joinable) {
        out(i) = stripComment(out(i))
        var j = i
        while (j + 1 < out.length && j - i < 100 &&
               (netDepth(out(i)) > 0 || out(i).trim.endsWith("\\"))) {
          j += 1
          // drop only the trailing backslash — a left-trim would eat the
          // indentation the def/class nesting logic keys on
          val base = out(i).replaceAll("""\\\s*$""", "")
          out(i) = base + " " + stripComment(out(j)).trim
          out(j) = ""
        }
        // Runaway guard: a def-looking line inside a docstring/comment
        // with an unclosed paren ('''Usage: def f(''') would otherwise
        // chain up to 100 REAL lines into one garbage line and blank the
        // originals (netDepth's quote walk can't see triple-quotes). If
        // the joined result isn't actually a statement this walk handles
        // — a def/class/from-import, or at least a depth-0 line ending in
        // ':' — undo the join and restore every consumed line.
        if (j > i) {
          val jt = out(i).trim
          val ok = jt match {
            case DefRe(_, _, _, _) | ClassRe(_, _, _) | FromImportRe(_, _) => true
            case _ => netDepth(out(i)) == 0 && jt.endsWith(":")
          }
          if (!ok) {
            var k = i
            while (k <= j) { out(k) = lines(k); k += 1 }
          }
        }
      }
      i += 1
    }
    out
  }

  def parse(relPath: String, content: String): ParserResult = {
    val lines = joinLogicalLines(content.split("\n", -1))
    val entities = ArrayBuffer[Entity]()
    val relations = ArrayBuffer[Relation]()
    val implChunks = ArrayBuffer[Chunk]()

    val moduleName = relPath.stripSuffix(".py").replace('/', '.')

    // --- file entity -------------------------------------------------------
    entities += Entity(relPath, "file", relPath, 1, lines.length,
      Seq(s"Python source with ${lines.length} lines"), "", "")

    // --- imports (reference: analysis/parser.py:808-917) -------------------
    lines.zipWithIndex.foreach { case (line, i) =>
      line.trim match {
        case ImportRe(mods) =>
          mods.split(",").map(_.trim.split(" ")(0)).filter(_.nonEmpty).foreach { m =>
            entities += Entity(m, "import", relPath, i + 1, i + 1,
              Seq(s"import: $m"), "", s"import $m")
            relations += Relation(relPath, m, "imports", "module", "", 1.0)
          }
        case FromImportRe(mod, names) =>
          relations += Relation(relPath, mod, "imports", "module", "", 1.0)
          // joined parenthesized imports arrive as "( a, b, )" — shed the
          // wrapper and the trailing-comma empty
          names.stripPrefix("(").stripSuffix(")").trim.stripPrefix("(").trim
            .split(",").map(_.trim.stripSuffix(")").trim.split(" ")(0).trim)
            .filter(n => n.nonEmpty && n != "*").foreach { n =>
            entities += Entity(n, "import", relPath, i + 1, i + 1,
              Seq(s"import: $n from $mod"), "", s"from $mod import $n")
            relations += Relation(relPath, s"$mod.$n", "imports", "symbol", "", 1.0)
          }
        case _ =>
      }
    }

    // --- block extents -----------------------------------------------------
    def blockEnd(start: Int, indent: Int): Int = {
      var end = start
      var i = start + 1
      while (i < lines.length) {
        val l = lines(i)
        if (l.trim.nonEmpty) {
          val ind = l.takeWhile(_ == ' ').length
          if (ind <= indent && !l.trim.startsWith("#")) return end + 1
          end = i
        }
        i += 1
      }
      end + 1
    }

    def docstringAt(bodyStart: Int): String = {
      if (bodyStart >= lines.length) return ""
      val t = lines.drop(bodyStart).find(_.trim.nonEmpty).map(_.trim).getOrElse("")
      if (t.startsWith("\"\"\"") || t.startsWith("'''")) {
        val q = t.take(3)
        val rest = t.drop(3)
        if (rest.contains(q)) rest.takeWhile(_ != q.head).trim
        else rest.trim match {
          case "" =>
            lines.drop(bodyStart + 1).find(_.trim.nonEmpty).map(_.trim.takeWhile(c => c != '"' && c != '\'')).getOrElse("")
          case s => s
        }
      } else ""
    }

    // complete docstring text (multi-line), for Args:/Returns:/Raises:
    // section scanning — docstringAt above keeps only the summary line
    def fullDocstringAt(bodyStart: Int): String = {
      var j = bodyStart
      while (j < lines.length && lines(j).trim.isEmpty) j += 1
      if (j >= lines.length) return ""
      val t = lines(j).trim
      if (!(t.startsWith("\"\"\"") || t.startsWith("'''"))) return ""
      val q = t.take(3)
      val rest = t.drop(3)
      if (rest.contains(q)) return rest.substring(0, rest.indexOf(q)).trim
      val sb = new StringBuilder(rest)
      j += 1
      while (j < lines.length) {
        val l = lines(j)
        if (l.contains(q)) return (sb.append("\n").append(l.substring(0, l.indexOf(q)))).toString.trim
        sb.append("\n").append(l)
        j += 1
      }
      sb.toString.trim
    }

    def decoratorsAbove(line: Int): Seq[String] = {
      var i = line - 1
      val out = ArrayBuffer[String]()
      while (i >= 0 && (DecoratorRe.findFirstIn(lines(i)).isDefined || lines(i).trim.isEmpty)) {
        DecoratorRe.findFirstMatchIn(lines(i)).foreach(m => out += m.group(1))
        i -= 1
      }
      out.toSeq.reverse
    }

    def complexity(body: String): Int =
      1 + ControlKeywords.map(k => body.sliding(k.length).count(_ == k)).sum

    // strip def lines so call extraction sees only bodies
    // (reference: analysis/parser.py:1109-1159)
    def callsIn(body: String): Seq[String] =
      CallRe.findAllMatchIn(body).map(_.group(1)).toSeq.distinct
        .filterNot(Builtins.contains)

    def implChunk(name: String, entityType: String, startL: Int, endL: Int, body: String,
                  calls: Seq[String]): Chunk = {
      val cid = Ids.entityChunkId(relPath, name, "implementation")
      Chunk(cid, "implementation", name, entityType, relPath, startL, endL,
        body, "", Ids.sha256Hex(body), "", "", hasImplementation = true)
    }

    // --- classes & functions ----------------------------------------------
    var i = 0
    var currentClass: Option[(String, Int, Int)] = None // (name, indent, endLine)
    // (name, defLine0, endLineExclusive) for file-op attribution
    val funcRanges = ArrayBuffer[(String, Int, Int)]()
    while (i < lines.length) {
      val line = lines(i)
      line match {
        case ClassRe(ws, name, bases) =>
          val indent = ws.length
          val endL = blockEnd(i, indent)
          val body = lines.slice(i, endL).mkString("\n")
          val doc = docstringAt(i + 1)
          val baseSeq = Option(bases).map(_.split(",").map(_.trim.split("\\[")(0).trim)
            .filter(b => b.nonEmpty && b != "object").toSeq).getOrElse(Seq.empty)
          // NB: DefRe anchors with ^ and no (?m) — it would only ever match
          // at offset 0 of `body` (the class line); use a multiline scan
          val methods = """(?m)^\s*(?:async\s+)?def\s+([A-Za-z_]\w*)""".r
            .findAllMatchIn(body).map(_.group(1)).toSeq.take(5)
          val obs = ArrayBuffer[String](s"class: $name")
          if (doc.nonEmpty) obs += s"responsibility: ${doc.split('.').head}"
          if (baseSeq.nonEmpty) obs += s"inherits: ${baseSeq.mkString(", ")}"
          if (methods.nonEmpty) obs += s"key methods: ${methods.mkString(", ")}"
          // design-pattern detection by naming convention
          // (reference: analysis/observation_extractor.py:124-168)
          Seq("Factory", "Builder", "Singleton", "Adapter", "Observer",
            "Strategy", "Visitor", "Proxy", "Decorator", "Facade")
            .find(p => name.endsWith(p))
            .foreach(p => obs += s"design pattern: ${p.toLowerCase(Locale.ROOT)}")
          // instance attributes (<=3), reference family:
          // observation_extractor.py:124-168
          val attrs = """self\.([A-Za-z_]\w*)\s*=""".r
            .findAllMatchIn(body).map(_.group(1)).toSeq.distinct.take(3)
          if (attrs.nonEmpty) obs += s"attributes: ${attrs.mkString(", ")}"
          entities += Entity(name, "class", relPath, i + 1, endL, obs.toSeq, doc,
            s"class $name${if (baseSeq.nonEmpty) baseSeq.mkString("(", ", ", ")") else ""}")
          relations += Relation(relPath, name, "contains", "", "", 1.0)
          baseSeq.foreach(b => relations += Relation(name, b, "inherits", "", "", 1.0))
          implChunks += implChunk(name, "class", i + 1, endL, body, Seq.empty)
          currentClass = Some((name, indent, endL))
        case DefRe(ws, name, params, ret) =>
          val indent = ws.length
          val inClass = currentClass.exists { case (_, ci, ce) => indent > ci && i + 1 <= ce }
          val endL = blockEnd(i, indent)
          val body = lines.slice(i, endL).mkString("\n")
          val bodyNoDef = lines.slice(i + 1, endL).mkString("\n")
          val doc = docstringAt(i + 1)
          val calls = callsIn(bodyNoDef)
          val cx = complexity(body)
          val decs = decoratorsAbove(i)
          val excs = ExceptRe.findAllMatchIn(body).map(_.group(1)).toSeq.distinct
          val entityType = if (inClass) "method" else if (name.startsWith("test_")) "test" else "function"
          val sig = s"def $name($params)${Option(ret).map(r => s" -> ${r.trim}").getOrElse("")}"
          val obs = ArrayBuffer[String](s"function: $name", s"signature: $sig")
          if (doc.nonEmpty) obs += s"purpose: ${doc.split('.').head}"
          if (calls.nonEmpty) obs += s"calls: ${calls.take(5).mkString(", ")}"
          if (excs.nonEmpty) obs += s"handles exceptions: ${excs.mkString(", ")}"
          if (Option(ret).exists(_.trim.nonEmpty)) obs += s"returns: ${ret.trim}"
          if (decs.nonEmpty) obs += s"decorators: ${decs.mkString(", ")}"
          if (cx > 5) obs += s"high complexity: $cx"
          if (line.trim.startsWith("async")) obs += "async function"
          // parameter patterns (reference: observation_extractor.py:573-607)
          val paramList = params.split(",").map(_.trim).filter(_.nonEmpty)
          if (paramList.nonEmpty)
            obs += s"parameters: ${paramList.length}: ${paramList.mkString(", ").take(80)}"
          // docstring-section patterns (Args/Returns/Raises/Examples/behaviors)
          obs ++= docstringPatternObs(fullDocstringAt(i + 1))
          // return-shape pattern (reference: observation_extractor.py:543-571)
          val retExprs = ReturnStmtRe.findAllMatchIn(bodyNoDef).map(_.group(1)).toSeq.distinct
          // Jedi-parity slice: resolved signature from annotations +
          // default/return literal inference (the structural analog of
          // inferred_types["signature"], analysis/parser.py:1100-1107).
          // Emitted only when inference ADDS a fact the annotated
          // signature doesn't already show.
          val pTypes = inferParamTypes(params)
          val (rType, rInferred) = inferReturnType(
            Option(ret).map(_.trim).filter(_.nonEmpty), retExprs, bodyNoDef,
            pTypes.collect { case (n, Some(t), _) => n -> t }.toMap)
          if (pTypes.exists(_._3) || rInferred) {
            val ps = pTypes.map { case (n, t, _) => t.map(tt => s"$n: $tt").getOrElse(n) }
              .mkString(", ")
            obs += s"inferred signature: $name($ps)${rType.map(t => s" -> $t").getOrElse("")}"
          }
          if (retExprs.length == 1)
            obs += s"returns pattern: single value (${retExprs.head.take(20)}${if (retExprs.head.length > 20) "..." else ""})"
          else if (retExprs.length > 1)
            obs += s"returns pattern: multiple (${retExprs.length} different)"
          // framework + async patterns (observation_extractor.py:909-1040)
          val fws = frameworkObs(bodyNoDef)
          if (fws.nonEmpty) obs += s"framework: ${fws.mkString(", ")}"
          if (bodyNoDef.contains("await ")) {
            obs += "uses await"
            if (bodyNoDef.contains("try:")) obs += "async error handling"
          }
          val owner = if (inClass) currentClass.get._1 else relPath
          entities += Entity(name, entityType, relPath, i + 1, endL, obs.toSeq, doc, sig)
          relations += Relation(owner, name, "contains", "", "", 1.0)
          calls.foreach(c => relations += Relation(name, c, "calls", "", s"$relPath:${i + 1}", 0.9))
          funcRanges += ((name, i, endL))
          // imports_used pairs (reference: analysis/parser.py:1161-1181)
          AttrRe.findAllMatchIn(bodyNoDef).map(_.group(1)).toSeq.distinct.take(10)
            .foreach(m => relations += Relation(name, m, "uses", "", "", 0.5))
          implChunks += implChunk(name, entityType, i + 1, endL, body, calls)
        case _ =>
          // module-level (indent 0) assignments -> variables/constants
          // (reference scope rules: analysis/parser.py:287-361,521-607)
          if (!line.startsWith(" ") && !line.startsWith("\t")) {
            line match {
              case AssignRe(namesStr) if !line.trim.startsWith("#") =>
                // flatten nested/parenthesized unpacks, strip stars:
                // (a, b), *rest = ... -> a, b, rest
                val names = namesStr.replaceAll("[()\\[\\]]", " ").split(",")
                  .map(_.trim.stripPrefix("*").trim)
                  .filter(n => n.matches("[A-Za-z_]\\w*") && n != "_")
                // RHS type inference (the structural analog of the Jedi
                // inference the reference taps in parser.py:919-1095):
                // only for single-name assignments — unpacks distribute
                // element types we don't track
                val inferred =
                  if (names.length != 1) None
                  else AnnotAssignRe.findFirstMatchIn(line).map(_.group(1))
                    .orElse(inferRhsType(line.substring(line.indexOf('=') + 1).trim))
                names.foreach { n =>
                  val t = if (n.toUpperCase(Locale.ROOT) == n) "constant" else "variable"
                  entities += Entity(n, t, relPath, i + 1, i + 1,
                    Seq(s"$t: $n") ++ inferred.map(ty => s"type: $ty"), "", line.trim.take(80))
                  relations += Relation(relPath, n, "contains", "", "", 1.0)
                }
              case _ =>
                // walrus at module scope: (x := ...)
                // (reference: analysis/parser.py:615-641)
                WalrusRe.findAllMatchIn(line).foreach { m =>
                  val n = m.group(1)
                  entities += Entity(n, "variable", relPath, i + 1, i + 1,
                    Seq(s"variable: $n", "walrus assignment"), "", line.trim.take(80))
                  relations += Relation(relPath, n, "contains", "", "", 1.0)
                }
            }
            if (currentClass.exists { case (_, _, ce) => i + 1 > ce }) currentClass = None
          }
      }
      i += 1
    }

    // --- file-operation edges, whole-file pass -----------------------------
    // The reference walks the full module AST (parser.py:1198-1441), so
    // module-level ops (`df = pd.read_csv('x.csv')`) count too; we attribute
    // each op to the innermost enclosing function when there is one, else to
    // the file. Targets are first string-literal args, with bare open() modes
    // filtered (parser.py:1274-1283); pathlib receivers (`Path('x').read_text()`)
    // resolve the target from the receiver's literal.
    val fileOps = ArrayBuffer[(Int, String, String)]() // (line0, opType, target)
    lines.zipWithIndex.foreach { case (line, ln) =>
      if (!line.trim.startsWith("#")) {
        PrefixOpRe.findAllMatchIn(line).foreach { m =>
          fileOps += ((ln, opType(m.group(1)), Option(m.group(2)).getOrElse("")))
        }
        MethodOpRe.findAllMatchIn(line).foreach { m =>
          val op = methodOpType(m.group(1))
          val firstArg = Option(m.group(2)).getOrElse("")
          // pathlib ops name their file in the RECEIVER (`Path('x').write_text(
          // 'content')` — the first arg is payload, not path); pandas to_* ops
          // name it in the first arg
          val recv = PathRecvRe.findFirstMatchIn(line.take(m.start)).map(_.group(1))
          val t = if (op.startsWith("path_")) recv.getOrElse("") else firstArg
          fileOps += ((ln, op, t))
        }
        PathOpenRe.findAllMatchIn(line).foreach(m => fileOps += ((ln, "path_open", m.group(1))))
        IniReadRe.findAllMatchIn(line).foreach(m => fileOps += ((ln, "config_ini_read", m.group(1))))
      }
    }
    fileOps.toSeq
      .filterNot { case (_, _, t) => FileModes.contains(t) }
      .map { case (ln, op, target) =>
        // innermost = latest-starting range containing the line
        val owner = funcRanges.filter { case (_, s, e) => ln > s && ln < e }
          .sortBy(-_._2).headOption.map(_._1).getOrElse(relPath)
        (owner, op, if (target.nonEmpty) target else op)
      }
      .distinct.take(50)
      .foreach { case (owner, op, to) =>
        relations += Relation(owner, to, "uses", s"file_op:$op", "", 0.8)
      }

    ParserResult(relPath, Ids.sha256Hex(content), entities.toSeq, relations.toSeq,
      implChunks.toSeq, Seq.empty)
  }
}
