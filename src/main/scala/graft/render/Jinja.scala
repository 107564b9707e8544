package graft.render

import scala.util.control.NonFatal

/** Block-structured Jinja-subset engine — the A25 surface grown to what
  * community macro packages are actually written in (reference
  * `core/dbt/clients/jinja.py:191-210`, context dispatch
  * `core/dbt/context/providers.py:114-212`): nested `{% if %}`/`{% for %}`,
  * general boolean/comparison/arithmetic expressions, `~` concatenation,
  * filters (`| lower`, `| join(', ')`, …), string methods
  * (`.split()`, `.startswith()`, …), expression-valued `{% set %}`,
  * `{% do %}`, `{# comments #}`, whitespace control (`{%- -%}`), and
  * macro calls in expression position — including nested macros and
  * package-qualified `{{ pkg.macro(...) }}` — with proper lexical
  * scoping (params bind as locals, not textual substitution).
  *
  * Also covered: `{% set x %}…{% endset %}` block form, `run_query()`
  * with an agate-shaped result (columns/rows), `{{ return(v) }}`
  * carrying typed values out of macros, `adapter.dispatch('x')`
  * resolving the spark__x/default__x chain to a first-class macro
  * value, and `exceptions.raise_compiler_error/warn` — the surface
  * dbt's documented dynamic-SQL macros (get_column_values et al.) are
  * written against.
  *
  * Template inheritance (`{% extends %}` / `{% block %}` with
  * `{{ super() }}` chains, blocks collected recursively),
  * `{% include %}` (with `ignore missing`), macro namespaces
  * (`{% import 'f.sql' as ns %}` / `{% from 'f.sql' import a as b %}`,
  * `with`/`without context` accepted, sibling-macro calls resolved
  * through the imported file's own namespace), `{% filter %}` blocks,
  * and `{% raw %}`/`{% endraw %}` literal blocks ARE supported — see
  * resolveExtends/loadMacroNamespace below and JinjaSpec. Deliberately
  * NOT full Jinja: no custom tests beyond the 13 built-in predicates;
  * everything a dbt model/hook/macro body in this repo's fixture
  * universe uses renders here.
  *
  * Unknown statement tags (`{% call statement(...) %}`, `{% macro %}`,
  * anything unrecognized) pass through VERBATIM — call-statement blocks
  * are segmented and executed by the engine layer before render
  * (Template.segmentMacroBody), and macro definitions are extracted at
  * parse time (Template.extractMacros), so render must leave them
  * intact. A bare `{{ name }}` that resolves to nothing also renders
  * verbatim (the pre-existing contract: unresolved placeholders surface
  * in the SQL where they are easy to see, instead of vanishing).
  */
object Jinja {

  // ------------------------------------------------------------- values

  sealed trait JV
  final case class JS(s: String) extends JV
  /** isInt keeps Jinja's int/float split: `{{ 10 }}` → "10",
    * `{{ 10.0 }}` → "10.0". */
  final case class JN(v: BigDecimal, isInt: Boolean) extends JV
  final case class JB(b: Boolean) extends JV
  /** Lists are MUTABLE buffers: `{% do xs.append(v) %}` is the dbt
    * macro idiom for accumulating (dbt_utils star/pivot/…), and it
    * must be visible through the variable that holds the list. */
  final case class JL(xs: scala.collection.mutable.Buffer[JV]) extends JV
  final case class JM(m: Map[String, JV]) extends JV
  /** `namespace()` object (Jinja2 `jinja2.utils.Namespace`): a MUTABLE
    * attribute holder whose writes (`{% set ns.x = v %}`) are visible
    * through the reference — the documented way to carry state across
    * `{% for %}` iterations, where plain `set` only rebinds the
    * iteration's inner scope. */
  final case class JNs(attrs: scala.collection.mutable.Map[String, JV]) extends JV
  case object JNull extends JV
  /** An unresolved name; `src` is the original `{{ … }}` text. */
  final case class JUndef(src: String) extends JV
  /** A first-class macro value — what `adapter.dispatch('x')` returns
    * and a `{% set m = ... %}` can hold; calling it renders the body.
    * `siblings` carries the macro's home-template namespace (set by
    * `{% import %}`/`{% from %}`) so a body that calls a macro defined
    * in the SAME imported file resolves it even though that file was
    * never registered project-wide — Jinja's module-namespace
    * semantics. */
  final case class JMacro(m: Template.MacroDef,
      siblings: Map[String, Template.MacroDef] = Map.empty) extends JV
  /** A callable bound by the renderer itself (`super()` inside an
    * overridden block); invoking it runs the closure. */
  final case class JThunk(f: () => JV) extends JV
  /** A first-class RELATION value — what `ref()`/`source()`/`this`
    * resolve to (reference BaseRelation,
    * `core/dbt/adapters/base/relation.py`; the spark adapter's
    * include-policy has `database=False`, so `.database` is none).
    * `show()` renders the engine's flat physical name, byte-identical
    * to the plain string these resolved to before, so every template
    * that merely interpolates `{{ this }}` / `{{ ref('x') }}` is
    * unchanged; the value additionally answers the attribute/method
    * surface real macros use (`this.schema`, `ref('x').identifier`,
    * `rel.include(schema=false)`, …). */
  final case class JRel(identifier: String, schema: String,
      typ: Option[String] = None) extends JV

  /** `{{ return(v) }}` inside a macro body — non-local exit carrying a
    * VALUE (so macros can return lists, not just text), caught at the
    * macro-call boundary (reference `return()` context member). */
  final case class MacroReturn(value: JV) extends RuntimeException

  def jlist(xs: Seq[JV]): JL = JL(scala.collection.mutable.ArrayBuffer(xs: _*))

  // ---------------------------------------- JSON/YAML context builtins
  // (reference `core/dbt/context/base.py:374-460` — fromjson/tojson/
  // fromyaml/toyaml; serialization shapes pinned to python
  // `json.dumps` / `yaml.safe_dump` defaults)

  private def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** python `json.dumps` parity: default separators `(", ", ": ")`. */
  def toJsonString(v: JV, sortKeys: Boolean): String = v match {
    case JS(s) => jsonQuote(s)
    case n: JN => show(n)
    case JB(b) => if (b) "true" else "false"
    case JNull | JUndef(_) => "null"
    case JRel(id, _, _) => jsonQuote(id)
    case JL(xs) => xs.map(toJsonString(_, sortKeys)).mkString("[", ", ", "]")
    case JM(m) =>
      (if (sortKeys) m.toSeq.sortBy(_._1) else m.toSeq)
        .map { case (k, x) => s"${jsonQuote(k)}: ${toJsonString(x, sortKeys)}" }
        .mkString("{", ", ", "}")
    case other =>
      throw new IllegalArgumentException(s"not json-serializable: ${show(other)}")
  }

  def fromJsonValue(s: String): JV = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def conv(n: com.fasterxml.jackson.databind.JsonNode): JV =
      if (n.isNull) JNull
      else if (n.isBoolean) JB(n.asBoolean())
      else if (n.isIntegralNumber) JN(BigDecimal(n.bigIntegerValue()), isInt = true)
      else if (n.isNumber) JN(BigDecimal(n.asDouble()), isInt = false)
      else if (n.isTextual) JS(n.asText())
      else if (n.isArray) {
        val it = n.elements(); val buf = scala.collection.mutable.ArrayBuffer[JV]()
        while (it.hasNext) buf += conv(it.next())
        JL(buf)
      } else {
        val it = n.properties().iterator()
        val out = scala.collection.mutable.LinkedHashMap[String, JV]()
        while (it.hasNext) { val e = it.next(); out(e.getKey) = conv(e.getValue) }
        JM(out.toMap)
      }
    conv(mapper.readTree(s))
  }

  private def toJava(v: JV, sortKeys: Boolean): Object = v match {
    case JS(s) => s
    case JRel(id, _, _) => id
    case JN(n, true) =>
      if (n.isValidLong) java.lang.Long.valueOf(n.toLong) else n.toBigInt.bigInteger
    case JN(n, false) => java.lang.Double.valueOf(n.toDouble)
    case JB(b) => java.lang.Boolean.valueOf(b)
    case JNull | JUndef(_) => null
    case JL(xs) =>
      val l = new java.util.ArrayList[Object](xs.length)
      xs.foreach(x => l.add(toJava(x, sortKeys)))
      l
    case JM(m) =>
      val o = new java.util.LinkedHashMap[String, Object]()
      (if (sortKeys) m.toSeq.sortBy(_._1) else m.toSeq)
        .foreach { case (k, x) => o.put(k, toJava(x, sortKeys)) }
      o
    case other =>
      throw new IllegalArgumentException(s"not yaml-serializable: ${show(other)}")
  }

  private def fromJava(o: Any): JV = o match {
    case null => JNull
    case s: String => JS(s)
    case b: java.lang.Boolean => JB(b.booleanValue())
    case i: java.lang.Integer => jint(i.longValue())
    case l: java.lang.Long => jint(l.longValue())
    case bi: java.math.BigInteger => JN(BigDecimal(bi), isInt = true)
    case d: java.lang.Double => JN(BigDecimal(d.doubleValue()), isInt = false)
    case f: java.lang.Float => JN(BigDecimal(f.doubleValue()), isInt = false)
    case dt: java.util.Date => JS(dt.toString)
    case l: java.util.List[_] =>
      val buf = scala.collection.mutable.ArrayBuffer[JV]()
      l.forEach(x => buf += fromJava(x))
      JL(buf)
    case m: java.util.Map[_, _] =>
      val out = scala.collection.mutable.LinkedHashMap[String, JV]()
      m.forEach((k, v2) => out(String.valueOf(k)) = fromJava(v2))
      JM(out.toMap)
    case other => JS(String.valueOf(other))
  }

  /** python `yaml.safe_load` parity via snakeyaml. */
  def fromYamlValue(s: String): JV = fromJava(
    new org.yaml.snakeyaml.Yaml().load[Object](s))

  /** Typed value from an already-loaded YAML/JSON object tree (the
    * project loader's `vars:` entries — lists/dicts must survive into
    * `{% for r in var('regions') %}`). */
  def fromAny(o: Any): JV = fromJava(o)

  /** The YAML-shaped object tree of a value — the inverse of
    * [[fromAny]] (the loader encodes `config()` kwargs through the
    * same encoder as YAML configs). */
  def toAny(v: JV): Any = toJava(v, sortKeys = false)

  /** Jinja literal TEXT for a value — what run-operation's typed-arg
    * binding injects into `{% set name = … %}` preambles. Round-trips
    * through the expression parser (backslash escapes for quote and
    * backslash are the parser's own). */
  def toLiteral(v: JV): String = v match {
    case JS(s) =>
      def quote(x: String) = "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"
      // `%}` / `{{` / `{%` / `}}` / `#}` inside the string would
      // terminate the surrounding `{% set %}` tag at the TEXT level
      // before the expression parser ever sees the quotes (ADVICE r14:
      // --args '{msg: "100%}"}' truncated the set tag and leaked the
      // remainder into the rendered SQL) — split each pair across a
      // `~` concat so the rendered tag stays well-formed.
      val danger = Set("%}", "{{", "{%", "}}", "#}")
      if (danger.exists(s.contains)) {
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        val sb = new StringBuilder
        var i = 0
        while (i < s.length) {
          sb += s(i)
          if (i + 1 < s.length && danger.contains(s.substring(i, i + 2))) {
            parts += sb.toString; sb.clear()
          }
          i += 1
        }
        if (sb.nonEmpty) parts += sb.toString
        parts.map(quote).mkString("(", " ~ ", ")")
      } else quote(s)
    case n: JN => show(n)
    case JB(b) => if (b) "true" else "false"
    case JNull => "none"
    case JL(xs) => xs.map(toLiteral).mkString("[", ", ", "]")
    case JM(m) => m.map { case (k, x) =>
      s"${toLiteral(JS(k))}: ${toLiteral(x)}" }.mkString("{", ", ", "}")
    case other => toLiteral(JS(show(other)))
  }

  /** python `yaml.safe_dump(default_flow_style=False)` parity shape. */
  def toYamlString(v: JV, sortKeys: Boolean): String = {
    val opts = new org.yaml.snakeyaml.DumperOptions()
    opts.setDefaultFlowStyle(
      org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
    new org.yaml.snakeyaml.Yaml(opts).dump(toJava(v, sortKeys))
  }

  def jint(n: Long): JV = JN(BigDecimal(n), isInt = true)

  def show(v: JV): String = v match {
    case JS(s) => s
    case JN(n, true) => n.toBigInt.toString
    case JN(n, false) =>
      val s = n.underlying.stripTrailingZeros.toPlainString
      if (s.contains('.')) s else s + ".0"
    case JB(b) => if (b) "true" else "false"
    case JL(xs) => xs.map(show).mkString("[", ", ", "]")
    // modules.datetime values render like python str(date/datetime),
    // including the zone offset when tz-aware (pytz docs usage:
    // `{{ run_started_at.astimezone(est) }}`)
    case JM(m) if m.get("__type").exists(t => show(t) == "date") =>
      f"${num0(m("year"))}%04d-${num0(m("month"))}%02d-${num0(m("day"))}%02d"
    case JM(m) if m.get("__type").exists(t => show(t) == "datetime") =>
      val base = f"${num0(m("year"))}%04d-${num0(m("month"))}%02d-${num0(m("day"))}%02d " +
        f"${num0(m("hour"))}%02d:${num0(m("minute"))}%02d:${num0(m("second"))}%02d"
      m.get("tzinfo").map { z =>
        val off = java.time.ZonedDateTime.of(num0(m("year")), num0(m("month")),
          num0(m("day")), num0(m("hour")), num0(m("minute")), num0(m("second")),
          0, java.time.ZoneId.of(show(z))).getOffset.getId
        base + (if (off == "Z") "+00:00" else off)
      }.getOrElse(base)
    case JM(m) => m.map { case (k, v2) => s"$k: ${show(v2)}" }.mkString("{", ", ", "}")
    case JNs(a) =>
      a.toSeq.sortBy(_._1).map { case (k, v2) => s"$k: ${show(v2)}" }
        .mkString("<namespace ", ", ", ">")
    case JRel(id, _, _) => id
    case JNull => ""
    case JUndef(_) => ""
    case jm: JMacro => s"<macro ${jm.m.name}>"
    case JThunk(_) => "<block super>"
  }

  private def num0(v: JV): Int = v match {
    case JN(n, _) => n.toInt
    case o => show(o).trim.toInt
  }

  def truthy(v: JV): Boolean = v match {
    case JS(s) => s.nonEmpty
    case JN(n, _) => n != 0
    case JB(b) => b
    case JL(xs) => xs.nonEmpty
    case JM(m) => m.nonEmpty
    case JNull | JUndef(_) => false
    case _: JMacro => true
    case JThunk(_) => true
    case _: JRel => true // python Relation objects are truthy
    case JNs(_) => true // python objects are truthy
  }

  // ---------------------------------------------------------- parse tree

  private sealed trait Node
  private final case class Text(s: String) extends Node
  /** raw = the full original `{{ … }}` slice (verbatim fallback). */
  private final case class Output(expr: String, raw: String) extends Node
  private final case class If(branches: Seq[(String, Seq[Node])],
      els: Seq[Node]) extends Node
  private final case class For(varName: String, iter: String,
      body: Seq[Node]) extends Node
  private final case class SetVar(name: String, expr: String) extends Node
  /** `{% set x %}…{% endset %}` — body renders to a string. */
  private final case class SetBlock(name: String, body: Seq[Node]) extends Node
  private final case class Do(expr: String) extends Node
  /** `{% include 'rel/path.sql' %}` — rendered inline with the current
    * context (Jinja's with-context default). */
  private final case class Include(expr: String, ignoreMissing: Boolean) extends Node
  /** `{% block name %}…{% endblock %}` — renders its body unless an
    * extending template overrode it (resolved before emit).
    * `superChain` holds the shadowed bodies, nearest ancestor first,
    * powering `{{ super() }}` inside overrides. */
  private final case class BlockNode(name: String, body: Seq[Node],
      superChain: List[Seq[Node]] = Nil) extends Node
  /** `{% extends 'base.sql' %}` — template inheritance marker; resolved
    * by [[resolveExtends]], never emitted. */
  private final case class Extends(expr: String) extends Node
  /** `{% filter upper %}…{% endfilter %}` — body renders to a string,
    * then the filter chain in `spec` applies to it. */
  private final case class FilterBlock(spec: String, body: Seq[Node]) extends Node
  /** `{% import 'path.sql' as ns %}` — the target file's macros become
    * a namespace dict bound to `ns`. */
  private final case class ImportNode(expr: String, alias: String) extends Node
  /** `{% from 'path.sql' import a, b as c %}` — selected macros bind
    * directly into the current scope under their (aliased) names. */
  private final case class FromImport(expr: String,
      names: Seq[(String, String)]) extends Node

  // ------------------------------------------------------------- lexing

  private sealed trait Tok
  private final case class TText(s: String) extends Tok
  private final case class TExpr(src: String, raw: String) extends Tok
  private final case class TStmt(src: String, raw: String) extends Tok

  /** `{% endraw %}` with optional whitespace-control dashes; group 1 =
    * leading dash (trim raw body's tail), group 2 = trailing dash. */
  private val RawEndRe = """\{%(-)?\s*endraw\s*(-)?%\}""".r

  /** Split source into text / `{{ }}` / `{% %}` tokens; strip `{# #}`;
    * apply `-` whitespace control to neighboring text.
    */
  private def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    val text = new StringBuilder
    def flushText(): Unit = { if (text.nonEmpty) { out += TText(text.toString); text.clear() } }
    var trimNext = false // a `-%}` / `-}}` asked to eat following whitespace
    while (i < n) {
      if (src.startsWith("{{", i) || src.startsWith("{%", i) || src.startsWith("{#", i)) {
        val close = src.substring(i, i + 2) match {
          case "{{" => "}}"
          case "{%" => "%}"
          case _ => "#}"
        }
        val end = closeOf(src, i + 2, close)
        if (end < 0) { text += src(i); i += 1 } // unterminated: literal
        else {
          val rawFull = src.substring(i, end + 2)
          var inner = src.substring(i + 2, end)
          val trimLeft = inner.startsWith("-")
          val trimRight = inner.endsWith("-") && inner.length > 1
          if (trimLeft) inner = inner.substring(1)
          if (trimRight) inner = inner.substring(0, inner.length - 1)
          if (trimLeft) {
            // eat trailing whitespace of preceding text
            val t = text.toString.reverse.dropWhile(c => c == ' ' || c == '\t' || c == '\n' || c == '\r').reverse
            text.clear(); text ++= t
          }
          flushText()
          close match {
            case "%}" if inner.trim == "raw" =>
              // `{% raw %}…{% endraw %}`: the body is LITERAL — `{{`/`{%`
              // inside must not lex (reference Jinja raw blocks; dbt docs
              // use them to emit literal curly syntax). Handled here in
              // the lexer because no parse-level rule can un-tokenize.
              val rawEnd = RawEndRe.findFirstMatchIn(src.substring(end + 2))
                .getOrElse(throw new IllegalArgumentException(
                  "jinja: missing {% endraw %}"))
              var body = src.substring(end + 2, end + 2 + rawEnd.start)
              if (trimRight) body = body.dropWhile(c =>
                c == ' ' || c == '\t' || c == '\n' || c == '\r')
              if (rawEnd.group(1) != null) body = body.reverse.dropWhile(c =>
                c == ' ' || c == '\t' || c == '\n' || c == '\r').reverse
              out += TText(body)
              i = end + 2 + rawEnd.end
              trimNext = rawEnd.group(2) != null
            case "}}" => out += TExpr(inner.trim, rawFull)
            case "%}" => out += TStmt(inner.trim, rawFull)
            case _ => () // comment
          }
          if (close != "%}" || inner.trim != "raw") {
            i = end + 2
            if (trimRight) trimNext = true
          }
        }
      } else {
        if (trimNext) {
          // eat leading whitespace after a trimming tag
          while (i < n && (src(i) == ' ' || src(i) == '\t' || src(i) == '\n' || src(i) == '\r')) i += 1
          trimNext = false
          if (i >= n) return out.result()
        } else { text += src(i); i += 1 }
      }
    }
    flushText()
    out.result()
  }

  /** Index of a tag's closing `close` at or after `from`, or -1. An
    * expression or statement tag skips its string literals, so a `}}`
    * inside `'…'` (a hook string holding `{{ this }}`) does not close
    * it; a comment closes at its first `#}`. Literals that never
    * balance fall back to the first occurrence. */
  private def closeOf(src: String, from: Int, close: String): Int = {
    var i = from
    var q: Char = 0
    while (close != "#}" && i < src.length - 1) {
      val c = src(i)
      if (q != 0) { if (c == '\\') i += 1 else if (c == q) q = 0 }
      else if (c == '\'' || c == '"') q = c
      else if (src.startsWith(close, i)) return i
      i += 1
    }
    src.indexOf(close, from)
  }

  // ------------------------------------------------------------ parsing

  private def stmtWord(s: String): String = s.takeWhile(c => c.isLetter || c == '_')

  /** Parse token stream into a node tree; statements outside the
    * supported set degrade to verbatim text.
    */
  private def parse(toks: Vector[Tok]): Seq[Node] = {
    var pos = 0
    def parseBlock(stopAt: String => Boolean): (Seq[Node], Option[String]) = {
      val nodes = Seq.newBuilder[Node]
      while (pos < toks.length) {
        toks(pos) match {
          case TText(s) => nodes += Text(s); pos += 1
          case TExpr(src, raw) => nodes += Output(src, raw); pos += 1
          case TStmt(src, raw) =>
            val w = stmtWord(src)
            if (stopAt(w)) return (nodes.result(), Some(src))
            w match {
              case "if" =>
                pos += 1
                val cond = src.drop(2).trim
                val branches = Seq.newBuilder[(String, Seq[Node])]
                var els: Seq[Node] = Nil
                var cur = cond
                var done = false
                while (!done) {
                  val (body, stop) = parseBlock(Set("elif", "else", "endif"))
                  stop match {
                    case Some(s2) if stmtWord(s2) == "elif" =>
                      branches += ((cur, body)); cur = s2.drop(4).trim; pos += 1
                    case Some(s2) if stmtWord(s2) == "else" =>
                      branches += ((cur, body)); pos += 1
                      val (eb, stop2) = parseBlock(Set("endif"))
                      if (stop2.isEmpty) throw new IllegalArgumentException("jinja: missing {% endif %}")
                      els = eb; pos += 1; done = true
                    case Some(s2) if stmtWord(s2) == "endif" =>
                      branches += ((cur, body)); pos += 1; done = true
                    case _ => throw new IllegalArgumentException("jinja: missing {% endif %}")
                  }
                }
                nodes += If(branches.result(), els)
              case "for" =>
                pos += 1
                val rest = src.drop(3).trim
                val inIdx = findTopLevel(rest, " in ")
                if (inIdx < 0) throw new IllegalArgumentException(s"jinja: bad for: $src")
                val v = rest.substring(0, inIdx).trim
                val iter = rest.substring(inIdx + 4).trim
                val (body, stop) = parseBlock(Set("endfor"))
                if (stop.isEmpty) throw new IllegalArgumentException("jinja: missing {% endfor %}")
                pos += 1
                nodes += For(v, iter, body)
              case "set" =>
                val rest = src.drop(3).trim
                val eq = findTopLevel(rest, "=")
                if (eq < 0) {
                  // block form: {% set name %}body{% endset %}
                  pos += 1
                  val (body, stop) = parseBlock(Set("endset"))
                  if (stop.isEmpty)
                    throw new IllegalArgumentException("jinja: missing {% endset %}")
                  pos += 1
                  nodes += SetBlock(rest, body)
                } else {
                  nodes += SetVar(rest.substring(0, eq).trim, rest.substring(eq + 1).trim)
                  pos += 1
                }
              case "do" =>
                nodes += Do(src.drop(2).trim); pos += 1
              case "include" =>
                val rest = src.drop("include".length).trim
                val ign = rest.endsWith("ignore missing")
                val e = if (ign) rest.dropRight("ignore missing".length).trim else rest
                nodes += Include(e, ign); pos += 1
              case "extends" =>
                nodes += Extends(src.drop("extends".length).trim); pos += 1
              case "filter" =>
                val spec = src.drop("filter".length).trim
                pos += 1
                val (body, stop) = parseBlock(Set("endfilter"))
                if (stop.isEmpty)
                  throw new IllegalArgumentException("jinja: missing {% endfilter %}")
                pos += 1
                nodes += FilterBlock(spec, body)
              case "import" =>
                val rest = stripContextSuffix(src.drop("import".length).trim)
                val asIdx = findTopLevel(rest, " as ")
                if (asIdx < 0)
                  throw new IllegalArgumentException(s"jinja: bad import (need `as`): $src")
                nodes += ImportNode(rest.substring(0, asIdx).trim,
                  rest.substring(asIdx + 4).trim)
                pos += 1
              case "from" =>
                val rest = stripContextSuffix(src.drop("from".length).trim)
                val impIdx = findTopLevel(rest, " import ")
                if (impIdx < 0)
                  throw new IllegalArgumentException(s"jinja: bad from-import: $src")
                val names = rest.substring(impIdx + 8).split(",").toSeq
                  .map(_.trim).filter(_.nonEmpty).map { n =>
                    val parts = n.split("\\s+as\\s+")
                    if (parts.length == 2) (parts(0).trim, parts(1).trim)
                    else (n, n)
                  }
                nodes += FromImport(rest.substring(0, impIdx).trim, names)
                pos += 1
              case "block" =>
                val name = src.drop("block".length).trim
                  .takeWhile(c => !c.isWhitespace)
                pos += 1
                val (body, stop) = parseBlock(Set("endblock"))
                if (stop.isEmpty)
                  throw new IllegalArgumentException("jinja: missing {% endblock %}")
                pos += 1
                nodes += BlockNode(name, body)
              case _ =>
                // macro/endmacro/call/endcall/raw/unknown → verbatim
                nodes += Text(raw); pos += 1
            }
        }
      }
      (nodes.result(), None)
    }
    val (nodes, stop) = parseBlock(_ => false)
    if (stop.nonEmpty) throw new IllegalArgumentException(s"jinja: unexpected {% ${stop.get} %}")
    nodes
  }

  /** Jinja's `with context` / `without context` import modifiers — the
    * imported macros here always close over the render context, so the
    * modifier is accepted and ignored. */
  private def stripContextSuffix(s: String): String = {
    val t = s.trim
    if (t.endsWith("with context")) t.dropRight("with context".length).trim
    else if (t.endsWith("without context")) t.dropRight("without context".length).trim
    else t
  }

  /** Index of `needle` at quote-depth 0, or -1. */
  private def findTopLevel(s: String, needle: String): Int = {
    var i = 0; var q: Char = 0
    while (i <= s.length - needle.length) {
      val c = s(i)
      if (q != 0) { if (c == q) q = 0 }
      else if (c == '\'' || c == '"') q = c
      else if (s.startsWith(needle, i)) return i
      i += 1
    }
    -1
  }

  // --------------------------------------------------------- evaluation

  /** Mutable render scope (lexical chain). */
  private final class Scope(val parent: Option[Scope]) {
    val vars = scala.collection.mutable.Map.empty[String, JV]
    def lookup(name: String): Option[JV] =
      vars.get(name).orElse(parent.flatMap(_.lookup(name)))
  }

  private val MaxMacroDepth = 16

  def render(src: String, ctx: Template.Context): String =
    renderWith(src, ctx, Map.empty, 0).trim

  /** Render with extra local bindings (macro params). */
  private[render] def renderWith(src: String, ctx: Template.Context,
      locals: Map[String, JV], depth: Int): String = {
    if (depth > MaxMacroDepth)
      throw new IllegalArgumentException("jinja: macro recursion limit exceeded")
    val scope = new Scope(None)
    locals.foreach { case (k, v) => scope.vars(k) = v }
    val sb = new StringBuilder
    emit(resolveExtends(parse(lex(src)), ctx, scope, depth, Map.empty),
      ctx, scope, depth, sb)
    sb.toString
  }

  /** Template inheritance (`{% extends %}`): walk up the parent chain,
    * letting the most-derived template's `{% block %}` bodies win;
    * emit then renders the base template with the overrides substituted
    * in place. Parents load through `ctx.templateLoader`.
    */
  private def resolveExtends(nodes: Seq[Node], ctx: Template.Context,
      scope: Scope, depth: Int,
      overrides: Map[String, List[Seq[Node]]]): Seq[Node] = {
    if (depth > MaxMacroDepth)
      throw new IllegalArgumentException("jinja: extends chain too deep")
    nodes.collectFirst { case e: Extends => e } match {
      case Some(Extends(expr)) =>
        val name = show(eval(expr, ctx, scope, depth))
        val parentSrc = loadTemplate(ctx, name).getOrElse(
          throw new IllegalArgumentException(s"jinja: extends: template not found: $name"))
        // accumulate this level's bodies BELOW the more-derived ones:
        // the head of each list is the winner; the tail is the
        // `{{ super() }}` chain. Blocks are collected RECURSIVELY —
        // Jinja registers a `{% block %}` wherever it appears, so a
        // block nested under `{% if %}`/`{% for %}`/another block in
        // an extending template still overrides the parent.
        val merged = collectBlocks(nodes)
          .foldLeft(overrides) { case (acc, (n, b)) =>
            acc.updated(n, acc.getOrElse(n, Nil) :+ b)
          }
        resolveExtends(parse(lex(parentSrc)), ctx, scope, depth + 1, merged)
      case None => substituteBlocks(nodes, overrides)
    }
  }

  /** All `{% block %}` definitions in a template, including ones nested
    * inside `{% if %}`/`{% for %}`/`{% set %}` bodies and inside other
    * blocks — matching Jinja's register-anywhere block semantics.
    */
  private def collectBlocks(nodes: Seq[Node]): Seq[(String, Seq[Node])] =
    nodes.flatMap {
      case BlockNode(n, b, _) => (n -> b) +: collectBlocks(b)
      case If(br, els) => br.flatMap(x => collectBlocks(x._2)) ++ collectBlocks(els)
      case For(_, _, b) => collectBlocks(b)
      case SetBlock(_, b) => collectBlocks(b)
      case _ => Nil
    }

  private def substituteBlocks(nodes: Seq[Node],
      overrides: Map[String, List[Seq[Node]]]): Seq[Node] =
    if (overrides.isEmpty) nodes
    else nodes.map {
      case BlockNode(n, b, _) =>
        // full stack: derived bodies (nearest-first), base body last
        val stack = overrides.getOrElse(n, Nil) :+ b
        val inner = overrides - n
        BlockNode(n, substituteBlocks(stack.head, inner),
          stack.tail.map(substituteBlocks(_, inner)))
      case If(br, els) =>
        If(br.map { case (c, b) => (c, substituteBlocks(b, overrides)) },
          substituteBlocks(els, overrides))
      case For(v, it, b) => For(v, it, substituteBlocks(b, overrides))
      case SetBlock(n, b) => SetBlock(n, substituteBlocks(b, overrides))
      case other => other
    }

  private def loadTemplate(ctx: Template.Context, name: String): Option[String] =
    ctx.templateLoader.flatMap(_(name))

  /** Resolve an import target to (template name, its macro namespace).
    * Macros are extracted exactly as project macros are
    * (Template.extractMacros), so `{% macro %}`/`{% test %}` blocks in
    * the imported file all participate. */
  private def loadMacroNamespace(expr: String, ctx: Template.Context,
      scope: Scope, depth: Int): (String, Map[String, Template.MacroDef]) = {
    val name = show(eval(expr, ctx, scope, depth))
    val src = loadTemplate(ctx, name).getOrElse(
      throw new IllegalArgumentException(s"jinja: import: template not found: $name"))
    (name, Template.extractMacros(src).map(d => d.name -> d).toMap)
  }

  private def emit(nodes: Seq[Node], ctx: Template.Context, scope: Scope,
      depth: Int, sb: StringBuilder): Unit =
    nodes.foreach {
      case Text(s) => sb ++= s
      case Output(expr, raw) =>
        eval(expr, ctx, scope, depth) match {
          case JUndef(_) => sb ++= raw // unresolved name → verbatim
          case v => sb ++= show(v)
        }
      case SetVar(name, expr) =>
        // `{% set ns.attr = v %}`: attribute assignment mutates the
        // namespace object IN PLACE (Jinja2 namespace semantics) — the
        // write is visible wherever the namespace is referenced, incl.
        // after the enclosing {% for %} ends. Plain names rebind the
        // current scope as before.
        val dot = name.indexOf('.')
        if (dot > 0 && name.indexOf('(') < 0 && name.indexOf('[') < 0) {
          val (base, attrName) = (name.substring(0, dot), name.substring(dot + 1).trim)
          scope.lookup(base) match {
            case Some(JNs(attrs)) =>
              if (attrName.contains('.'))
                throw new IllegalArgumentException(
                  s"jinja: set supports one attribute level on namespace: $name")
              attrs(attrName) = eval(expr, ctx, scope, depth)
            case Some(other) => throw new IllegalArgumentException(
              s"jinja: cannot assign attribute `$attrName` on non-namespace `$base`")
            case None => throw new IllegalArgumentException(
              s"jinja: set $name: `$base` is undefined (need {% set $base = namespace() %})")
          }
        } else scope.vars(name) = eval(expr, ctx, scope, depth)
      case SetBlock(name, body) =>
        val inner = new StringBuilder
        emit(body, ctx, scope, depth, inner)
        scope.vars(name) = JS(inner.toString.trim)
      case Do(expr) =>
        eval(expr, ctx, scope, depth); ()
      case Include(expr, ignoreMissing) =>
        val name = show(eval(expr, ctx, scope, depth))
        loadTemplate(ctx, name) match {
          case Some(src) =>
            if (depth > MaxMacroDepth)
              throw new IllegalArgumentException("jinja: include chain too deep")
            emit(resolveExtends(parse(lex(src)), ctx, scope, depth + 1, Map.empty),
              ctx, new Scope(Some(scope)), depth + 1, sb)
          case None if ignoreMissing => ()
          case None => throw new IllegalArgumentException(
            s"jinja: include: template not found: $name")
        }
      case BlockNode(name, body, superChain) =>
        val inner = new Scope(Some(scope))
        superChain match {
          case next :: rest =>
            inner.vars("super") = JThunk(() => {
              val sb2 = new StringBuilder
              emit(Seq(BlockNode(name, next, rest)), ctx, scope, depth, sb2)
              JS(sb2.toString)
            })
          case Nil => ()
        }
        emit(body, ctx, inner, depth, sb)
      case Extends(_) => () // consumed by resolveExtends; ignore stragglers
      case FilterBlock(spec, body) =>
        val inner = new StringBuilder
        emit(body, ctx, scope, depth, inner)
        val fscope = new Scope(Some(scope))
        fscope.vars("__filter_body__") = JS(inner.toString)
        sb ++= show(eval(s"__filter_body__ | $spec", ctx, fscope, depth))
      case ImportNode(expr, alias) =>
        val (_, sibs) = loadMacroNamespace(expr, ctx, scope, depth)
        scope.vars(alias) = JM(sibs.map { case (n, d) =>
          n -> (JMacro(d, sibs): JV) })
      case FromImport(expr, names) =>
        val (tname, sibs) = loadMacroNamespace(expr, ctx, scope, depth)
        names.foreach { case (n, local) =>
          scope.vars(local) = JMacro(sibs.getOrElse(n,
            throw new IllegalArgumentException(
              s"jinja: from $tname import $n: no such macro")), sibs)
        }
      case If(branches, els) =>
        branches.find { case (c, _) => truthy(eval(c, ctx, scope, depth)) } match {
          case Some((_, body)) => emit(body, ctx, scope, depth, sb)
          case None => emit(els, ctx, scope, depth, sb)
        }
      case For(v, iterSrc, body) =>
        forEachItem(v, eval(iterSrc, ctx, scope, depth), scope)(
          emit(body, ctx, _, depth, sb))
    }

  /** Run `body` once per item of `iterable`, each in a child scope
    * binding the loop name(s) and `loop`. */
  private def forEachItem(v: String, iterable: JV, scope: Scope)(
      body: Scope => Unit): Unit = {
    val items = iterable match {
      case JL(xs) => xs
      // list compatibility: vars hold "a,b,c" strings; kwarg
      // lists arrive joined on the \u0001 list separator
      case JS(s) => s.split("[,\u0001]").toSeq.map(x => JS(x.trim))
      case JM(m) => m.keys.toSeq.map(JS(_))
      case other => throw new IllegalArgumentException(
        s"jinja: cannot iterate ${show(other)}")
    }
    // tuple unpacking: {% for a, b in zip(xs, ys) %} / {% for k, v
    // in d.items() %} — each item must be a sequence of the same
    // arity as the name list
    val names = v.split(",").map(_.trim).toSeq
    items.zipWithIndex.foreach { case (item, idx) =>
      val inner = new Scope(Some(scope))
      if (names.length == 1) inner.vars(v) = item
      else item match {
        case JL(parts) if parts.length == names.length =>
          names.zip(parts).foreach { case (n, p) => inner.vars(n) = p }
        case other => throw new IllegalArgumentException(
          s"jinja: cannot unpack ${show(other)} into (${names.mkString(", ")})")
      }
      inner.vars("loop") = JM(Map(
        "index" -> jint(idx + 1), "index0" -> jint(idx),
        "first" -> JB(idx == 0), "last" -> JB(idx == items.length - 1),
        "length" -> jint(items.length)))
      body(inner)
    }
  }

  // ------------------------------------------------- parse-time capture

  /** What a parse-time walk found: each `ref()` spec (`m`, `m.v2`) and
    * `source()` pair in first-seen order, and the kwargs of each
    * `config()` call in call order (a dict positional merges under
    * them). */
  final case class Captured(refs: Seq[String], sources: Seq[(String, String)],
      configs: Seq[Map[String, JV]])

  /** Parse-time capture (dbt renders each node at parse time to find
    * its refs, sources and config): one walk over the template's tree,
    * evaluating its expressions in `base` with `ref`, `source` and
    * `config` replaced by recorders. `base` supplies what the render
    * will also see: vars, the project's macros, the environment.
    *  - Every `{% if %}` branch is walked; no condition is evaluated.
    *  - A `{% for %}` iterates when its iterable evaluates, and
    *    otherwise walks its body once with each loop name bound to a
    *    placeholder: a ref or source built from it is not recorded
    *    (its real name is only known at run time).
    *  - A called macro renders in the same recording context, so a
    *    `ref()` in a project or package macro is an edge of the node
    *    that calls it (macro bodies take their normal branches).
    *  - An expression that throws (`run_query` has no runner here, an
    *    unknown macro) keeps what its arguments recorded before the
    *    throw, and the walk goes on.
    *  - The `pre_hook`/`post_hook` strings of the template's own
    *    `config()` calls are walked for refs and sources too.
    * A template that does not parse captures nothing; its render
    * reports the syntax error.
    */
  def capture(src: String,
      base: Template.Context = Template.Context(_ => "", (_, _) => "", "")): Captured =
    captureTree(try parse(lex(src)) catch { case NonFatal(_) => Nil }, base)

  /** [[capture]] of one expression — a YAML value such as
    * `model: ref('m')` or `input: source('s', 't')`. */
  def captureExpr(expr: String): Captured =
    captureTree(Seq(Output(expr, expr)), Template.Context(_ => "", (_, _) => "", ""))

  /** What an unevaluable `{% for %}` binds its loop names to; a ref or
    * source whose name contains it depends on the loop. */
  private val Unbound = "\u0000"

  private def captureTree(nodes: Seq[Node], base: Template.Context): Captured = {
    val refs = scala.collection.mutable.LinkedHashSet[String]()
    val sources = scala.collection.mutable.LinkedHashSet[(String, String)]()
    val configs = scala.collection.mutable.ArrayBuffer[Map[String, JV]]()
    // an unbound name renders "": nothing to record
    val ctx = base.copy(
      resolveRef = r => { if (r.nonEmpty && !r.contains(Unbound)) refs += r; r },
      resolveSource = (s, t) => {
        if (!(s + t).contains(Unbound)) sources += ((s, t)); s"$s.$t"
      },
      thisRelation = "",
      configSink = Some(configs += _))
    walk(nodes, ctx, new Scope(None), new StringBuilder)
    def hookSql(v: JV): Seq[String] = v match {
      case JS(s) => Seq(s)
      case JL(xs) => xs.toSeq.flatMap(hookSql)
      case JM(m) => m.get("sql").toSeq.flatMap(hookSql)
      case _ => Nil
    }
    val hookCtx = ctx.copy(configSink = None)
    for (c <- configs.toList; k <- Seq("pre_hook", "post_hook");
         h <- c.get(k).toSeq.flatMap(hookSql))
      walk(try parse(lex(h)) catch { case NonFatal(_) => Nil },
        hookCtx, new Scope(None), new StringBuilder)
    Captured(refs.toSeq, sources.toSeq, configs.toSeq)
  }

  private def walk(nodes: Seq[Node], ctx: Template.Context, scope: Scope,
      sb: StringBuilder): Unit =
    nodes.foreach {
      case If(branches, els) =>
        (branches.map(_._2) :+ els).foreach(walk(_, ctx, scope, sb))
      case For(v, iterSrc, body) =>
        try forEachItem(v, eval(iterSrc, ctx, scope, 0), scope)(walk(body, ctx, _, sb))
        catch { case NonFatal(_) =>
          val inner = new Scope(Some(scope))
          v.split(",").foreach(n => inner.vars(n.trim) = JS(Unbound))
          walk(body, ctx, inner, sb)
        }
      case SetBlock(name, body) =>
        val inner = new StringBuilder
        walk(body, ctx, scope, inner)
        scope.vars(name) = JS(inner.toString.trim)
      case BlockNode(_, body, _) => walk(body, ctx, new Scope(Some(scope)), sb)
      case FilterBlock(_, body) => walk(body, ctx, scope, new StringBuilder)
      case node =>
        try emit(Seq(node), ctx, scope, 0, sb) catch { case NonFatal(_) => () }
    }

  private[render] def eval(expr: String, ctx: Template.Context, scope: Scope,
      depth: Int): JV =
    new ExprParser(expr, ctx, scope, depth).parseExpression()

  // ------------------------------------------------- expression parsing

  /** Recursive-descent expression parser+evaluator (single pass; macro
    * bodies are small and render-bound, so no AST caching needed).
    */
  private final class ExprParser(src: String, ctx: Template.Context,
      scope: Scope, depth: Int) {
    private var i = 0

    private def ws(): Unit = while (i < src.length && src(i).isWhitespace) i += 1
    private def peek: Char = if (i < src.length) src(i) else '\u0000'

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"jinja expr: $msg in `$src` at $i")

    def parseExpression(): JV = {
      val v = parseOr()
      ws()
      if (i < src.length) fail(s"trailing input `${src.substring(i)}`")
      v
    }

    private def word(): String = {
      ws()
      val start = i
      while (i < src.length && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
      src.substring(start, i)
    }
    private def tryWord(w: String): Boolean = {
      ws(); val save = i
      if (word() == w) true else { i = save; false }
    }

    private def parseOr(): JV = {
      var left = parseAnd()
      while (tryWord("or")) { val r = parseAnd(); left = JB(truthy(left) || truthy(r)) }
      left
    }
    private def parseAnd(): JV = {
      var left = parseNot()
      while (tryWord("and")) { val r = parseNot(); left = JB(truthy(left) && truthy(r)) }
      left
    }
    private def parseNot(): JV =
      if (tryWord("not")) JB(!truthy(parseNot())) else parseComparison()

    private def parseComparison(): JV = {
      val left = parseConcat()
      ws()
      val ops = Seq("==", "!=", "<=", ">=", "<", ">")
      val op = ops.find(o => src.startsWith(o, i))
      if (op.isDefined) {
        i += op.get.length
        val right = parseConcat()
        return JB(compare(left, right, op.get))
      }
      if (tryWord("is")) {
        val neg = tryWord("not")
        val test = word()
        val r = test match {
          case "defined" => !left.isInstanceOf[JUndef]
          case "none" => left == JNull
          case "number" => left.isInstanceOf[JN]
          case "string" => left.isInstanceOf[JS]
          case "mapping" => left.isInstanceOf[JM]
          case "boolean" => left.isInstanceOf[JB]
          case "true" => left == JB(true)
          case "false" => left == JB(false)
          case "integer" => left match { case JN(_, isInt) => isInt; case _ => false }
          case "float" => left match { case JN(_, isInt) => !isInt; case _ => false }
          // strings and dicts iterate in Jinja, like Python
          case "sequence" | "iterable" =>
            left match { case _: JL | _: JS | _: JM => true; case _ => false }
          case "odd" => left match {
            case JN(v, true) => v.toBigInt.testBit(0); case _ => false }
          case "even" => left match {
            case JN(v, true) => !v.toBigInt.testBit(0); case _ => false }
          case "divisibleby" =>
            val arg = parseArgs() match {
              case (Seq(JN(d, _)), _) => d
              case _ => fail("divisibleby needs one numeric arg")
            }
            left match {
              case JN(v, _) => (v % arg) == BigDecimal(0); case _ => false }
          case other =>
            // user-defined tests (VERDICT r12 item 5): a project macro
            // named like the test serves `{{ v is my_test }}` /
            // `{{ v is my_test(args) }}` with the tested value as first
            // positional arg — the symmetric twin of custom FILTER
            // dispatch (applyFilter's fallback below; the reference
            // environment lets python code register tests, and a dbt
            // project's only authorable unit is the macro, so macros
            // ARE the registration surface here). The macro's return
            // is taken by truthiness, except that a rendered-text
            // "true"/"false" literal parses as the boolean it spells —
            // macro bodies RENDER to strings, and truthy(JS("false"))
            // would otherwise read any spelled-out false as true;
            // `{{ return(...) }}` carries typed values unambiguously.
            ctx.macroResolver(other) match {
              case Some(_) =>
                val (args, kw) =
                  if (i < src.length && src.charAt(i) == '(') parseArgs()
                  else (Nil, Map.empty[String, JV])
                callMacro(other, left +: args, kw) match {
                  case JS(s) if s.trim.equalsIgnoreCase("true") => true
                  case JS(s) if s.trim.equalsIgnoreCase("false") => false
                  case v => truthy(v)
                }
              case None => fail(s"unknown test `$other`")
            }
        }
        return JB(if (neg) !r else r)
      }
      val save = i
      if (tryWord("not")) {
        if (tryWord("in")) { val r = parseConcat(); return JB(!isIn(left, r)) }
        i = save
      } else if (tryWord("in")) { val r = parseConcat(); return JB(isIn(left, r)) }
      left
    }

    private def isIn(x: JV, coll: JV): Boolean = coll match {
      case JL(xs) => xs.exists(e => compare(x, e, "=="))
      case JS(s) => s.contains(show(x))
      case JM(m) => m.contains(show(x))
      case _ => false
    }

    private def compare(a: JV, b: JV, op: String): Boolean = {
      def num(v: JV): Option[BigDecimal] = v match {
        case JN(n, _) => Some(n)
        case JS(s) => scala.util.Try(BigDecimal(s.trim)).toOption
        case JB(x) => Some(if (x) BigDecimal(1) else BigDecimal(0))
        case _ => None
      }
      (num(a), num(b)) match {
        case (Some(x), Some(y)) => op match {
          case "==" => x == y
          case "!=" => x != y
          case "<" => x < y
          case "<=" => x <= y
          case ">" => x > y
          case ">=" => x >= y
        }
        case _ =>
          val (x, y) = (show(a), show(b))
          op match {
            case "==" => x == y
            case "!=" => x != y
            case "<" => x < y
            case "<=" => x <= y
            case ">" => x > y
            case ">=" => x >= y
          }
      }
    }

    private def parseConcat(): JV = {
      var left = parseAdd()
      ws()
      while (peek == '~') {
        i += 1
        val r = parseAdd()
        left = JS(show(left) + show(r))
        ws()
      }
      left
    }

    private def parseAdd(): JV = {
      var left = parseMul()
      ws()
      while (peek == '+' || (peek == '-' && !src.startsWith("-}", i))) {
        val op = peek; i += 1
        val r = parseMul()
        left = arith(left, r, op.toString)
        ws()
      }
      left
    }

    private def parseMul(): JV = {
      var left = parseUnary()
      ws()
      while (peek == '*' || peek == '/' || peek == '%') {
        val op = if (src.startsWith("//", i)) { i += 2; "//" }
          else { val c = peek; i += 1; c.toString }
        val r = parseUnary()
        left = arith(left, r, op)
        ws()
      }
      left
    }

    private def arith(a: JV, b: JV, op: String): JV = (a, b) match {
      case (JN(x, ia), JN(y, ib)) => op match {
        case "+" => JN(x + y, ia && ib)
        case "-" => JN(x - y, ia && ib)
        case "*" => JN(x * y, ia && ib)
        case "/" => JN(BigDecimal(x.toDouble / y.toDouble), isInt = false)
        case "//" => jint((x / y).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
        case "%" => JN(x % y, ia && ib)
      }
      case (JL(xs), JL(ys)) if op == "+" => JL(xs ++ ys)
      case (JS(x), JS(y)) if op == "+" => JS(x + y)
      case _ => fail(s"cannot `$op` ${show(a)} and ${show(b)}")
    }

    private def parseUnary(): JV = {
      ws()
      if (peek == '-') { i += 1; parseUnary() match {
        case JN(n, isInt) => JN(-n, isInt)
        case other => fail(s"cannot negate ${show(other)}")
      } }
      else parsePostfix()
    }

    private def parsePostfix(): JV = {
      var v = parseAtom()
      var continue = true
      while (continue) {
        ws()
        if (peek == '|') {
          i += 1
          val name = word()
          val args = if (peekNonWs == '(') parseArgs() else (Nil, Map.empty[String, JV])
          v = applyFilter(v, name, args._1, args._2)
        } else if (peek == '.') {
          i += 1
          val name = word()
          if (peekNonWs == '(') {
            // an imported namespace member is a macro CALL (with
            // kwargs), not a string/list method
            val member = v match {
              case JM(m) => m.get(name).collect { case jm: JMacro => jm }
              case _ => None
            }
            member match {
              case Some(jm) =>
                val (pos, kw) = parseArgs()
                v = invokeMacro(jm, pos, kw)
              case None =>
                v match {
                  case r: JRel =>
                    // relation METHODS take kwargs (incorporate(type=…),
                    // include(schema=false), replace_path(identifier=…))
                    val (pos, kw) = parseArgs()
                    v = relMethod(r, name, pos, kw)
                  case _ =>
                    val (args, _) = parseArgs()
                    v = methodCall(v, name, args)
                }
            }
          } else v = attr(v, name)
        } else if (peek == '[') {
          i += 1
          val idx = parseOr()
          ws()
          if (peek != ']') fail("expected ]")
          i += 1
          v = index(v, idx)
        } else if (peek == '(' && v.isInstanceOf[JMacro]) {
          // immediate call of a macro value: adapter.dispatch('x')(args)
          // or an imported-namespace member ns.m(args)
          val (pos, kw) = parseArgs()
          v = invokeMacro(v.asInstanceOf[JMacro], pos, kw)
        } else if (peek == '(' && v.isInstanceOf[JThunk]) {
          parseArgs()
          v = v.asInstanceOf[JThunk].f()
        } else continue = false
      }
      v
    }

    private def peekNonWs: Char = {
      var j = i
      while (j < src.length && src(j).isWhitespace) j += 1
      if (j < src.length) src(j) else '\u0000'
    }

    private def attr(v: JV, name: String): JV = v match {
      // BaseRelation attribute surface (reference relation.py): the
      // spark adapter's include-policy has database=False, so
      // `.database` is none, exactly like dbt-spark.
      case JRel(id, schema, typ) => name match {
        case "identifier" | "name" | "table" => JS(id)
        case "schema" => if (schema.isEmpty) JNull else JS(schema)
        case "database" => JNull
        case "type" => typ.map(JS(_)).getOrElse(JNull)
        case "is_table" => JB(typ.contains("table"))
        case "is_view" => JB(typ.contains("view"))
        case "is_cte" => JB(typ.contains("cte"))
        case other => fail(s"no attribute `$other` on relation $id")
      }
      case JM(m) => m.getOrElse(name,
        fail(s"no attribute `$name` on ${show(v)}"))
      case JNs(a) => a.getOrElse(name,
        fail(s"namespace has no attribute `$name`"))
      case JUndef(s) => JUndef(s"$s.$name")
      case _ => fail(s"no attribute `$name` on ${show(v)}")
    }

    /** BaseRelation method surface (reference relation.py). On flat
      * single-namespace storage, `include`/`exclude`/`quote` policies
      * cannot change the rendered name, so they return the relation
      * unchanged — matching what dbt-spark's database-less policy does
      * for the database flag specifically.
      */
    private def relMethod(r: JRel, name: String, pos: Seq[JV],
        kw: Map[String, JV]): JV = name match {
      case "render" => JS(r.identifier)
      case "include" | "exclude" | "quote" => r
      case "incorporate" =>
        kw.get("type").map(t => r.copy(typ = Some(str(t)))).getOrElse(r)
      case "replace_path" =>
        JRel(
          kw.get("identifier").map(str).getOrElse(r.identifier),
          kw.get("schema").map(str).getOrElse(r.schema),
          r.typ)
      case "without_identifier" => r.copy(identifier = "")
      case "get" =>
        val k = str(pos.head)
        scala.util.Try(attr(r, k)).getOrElse(
          pos.lift(1).orElse(kw.get("default")).getOrElse(JNull))
      case other => fail(s"relation ${r.identifier} has no method `$other`")
    }

    private def index(v: JV, idx: JV): JV = (v, idx) match {
      case (r: JRel, key) => attr(r, show(key))
      case (JL(xs), JN(n, _)) =>
        val k = n.toInt
        val kk = if (k < 0) xs.length + k else k
        if (kk >= 0 && kk < xs.length) xs(kk) else JNull
      case (JS(s), JN(n, _)) =>
        val k = n.toInt
        val kk = if (k < 0) s.length + k else k
        if (kk >= 0 && kk < s.length) JS(s(kk).toString) else JNull
      case (JM(m), key) => m.getOrElse(show(key), JNull)
      case _ => fail(s"cannot index ${show(v)}")
    }

    /** `( expr, …, k=expr, … )` — positional + kwargs. */
    private def parseArgs(): (Seq[JV], Map[String, JV]) = {
      ws()
      if (peek != '(') fail("expected (")
      i += 1
      val pos = Seq.newBuilder[JV]
      val kw = Map.newBuilder[(String), JV]
      ws()
      while (peek != ')') {
        // kwarg lookahead: ident '=' (but not '==')
        val save = i
        val w = word()
        ws()
        if (w.nonEmpty && peek == '=' && !src.startsWith("==", i)) {
          i += 1
          kw += w -> parseOr()
        } else {
          i = save
          pos += parseOr()
        }
        ws()
        if (peek == ',') { i += 1; ws() }
        else if (peek != ')') fail("expected , or )")
      }
      i += 1
      (pos.result(), kw.result())
    }

    private def parseAtom(): JV = {
      ws()
      peek match {
        case '\'' | '"' =>
          val q = peek; i += 1
          val sb = new StringBuilder
          while (i < src.length && src(i) != q) {
            if (src(i) == '\\' && i + 1 < src.length && (src(i + 1) == q || src(i + 1) == '\\')) {
              sb += src(i + 1); i += 2
            } else { sb += src(i); i += 1 }
          }
          if (i >= src.length) fail("unterminated string")
          i += 1
          JS(sb.toString)
        case c if c.isDigit =>
          val start = i
          while (i < src.length && src(i).isDigit) i += 1
          if (i < src.length && src(i) == '.' && i + 1 < src.length && src(i + 1).isDigit) {
            i += 1
            while (i < src.length && src(i).isDigit) i += 1
            JN(BigDecimal(src.substring(start, i)), isInt = false)
          } else JN(BigDecimal(src.substring(start, i)), isInt = true)
        case '[' =>
          i += 1
          val xs = Seq.newBuilder[JV]
          ws()
          while (peek != ']') {
            xs += parseOr()
            ws()
            if (peek == ',') { i += 1; ws() }
            else if (peek != ']') fail("expected , or ]")
          }
          i += 1
          jlist(xs.result())
        case '{' =>
          // dict literal: {'k': v, ...} — keys are strings (quoted or
          // bare words), the community-macro idiom for lookup tables
          i += 1
          val entries = Map.newBuilder[String, JV]
          ws()
          while (peek != '}') {
            val k = str(parseOr())
            ws()
            if (peek != ':') fail("expected : in dict literal")
            i += 1
            entries += k -> parseOr()
            ws()
            if (peek == ',') { i += 1; ws() }
            else if (peek != '}') fail("expected , or } in dict literal")
          }
          i += 1
          JM(entries.result())
        case '(' =>
          i += 1
          val v = parseOr()
          ws()
          if (peek != ')') fail("expected )")
          i += 1
          v
        case c if c.isLetter || c == '_' =>
          val name = word()
          ws()
          // adapter.dispatch('x'[, 'pkg']) → a first-class macro value
          // (reference `core/dbt/context/providers.py:114-212`): the
          // spark__x / default__x implementation chain.
          if (name == "adapter" && peek == '.' && wordAt(i + 1) == "dispatch") {
            i += 1; word()
            val (pos, _) = parseArgs()
            val base = str(pos.head)
            val pkgPre = pos.lift(1).map(p => s"${str(p)}.").getOrElse("")
            val target = Seq(s"${pkgPre}spark__$base", s"spark__$base",
              s"${pkgPre}default__$base", s"default__$base")
              .flatMap(n => ctx.macroResolver(n)).headOption
              .getOrElse(throw new IllegalArgumentException(
                s"adapter.dispatch('$base'): no spark__/default__ implementation"))
            return JMacro(target)
          }
          // other adapter metadata methods route to the engine's API
          // (get_columns_in_relation, …)
          if (name == "adapter" && peek == '.') {
            i += 1
            val m = word()
            val (pos, kw) = parseArgs()
            val api = ctx.adapterApi.getOrElse(throw new IllegalArgumentException(
              s"adapter.$m is not available in this render context"))
            return api(m, pos, kw)
          }
          // api.Relation / api.Column factories (reference
          // providers.py:1214-1222: {"Relation": db_wrapper.Relation,
          // "Column": adapter.Column}) — the custom-materialization
          // idiom `api.Relation.create(schema=…, identifier=…)`.
          // A PACKAGE named `api` keeps its macros: pkg-qualified
          // resolution wins when `api.<member>` names a real macro.
          if (name == "api" && peek == '.' &&
              ctx.macroResolver(s"api.${wordAt(i + 1)}").isEmpty) {
            i += 1
            val member = word()
            if (peek != '.') fail(s"api.$member: expected a method call")
            i += 1
            val meth = word()
            val (pos, kw) = parseArgs()
            (member, meth) match {
              case ("Relation", "create") =>
                return JRel(
                  kw.get("identifier").map(str).getOrElse(
                    pos.lift(2).map(str).getOrElse("")),
                  kw.get("schema").map(str).getOrElse(
                    pos.lift(1).map(str).getOrElse("")),
                  kw.get("type").map(str))
              case ("Column", "create") =>
                val cn = pos.headOption.orElse(kw.get("name")).map(str)
                  .getOrElse(fail("api.Column.create: name required"))
                val ct = pos.lift(1).orElse(kw.get("label_or_dtype")).map(str)
                  .getOrElse("string")
                return JM(Map(
                  "name" -> JS(cn), "column" -> JS(cn),
                  "dtype" -> JS(ct), "data_type" -> JS(ct),
                  "quoted" -> JS(s"`$cn`")))
              case ("Column", "translate_type") =>
                // reference Column.translate_type: generic → dialect
                val t = str(pos.head).toLowerCase
                return JS(Map(
                  "string" -> "string", "text" -> "string",
                  "integer" -> "int", "float" -> "double",
                  "numeric" -> "decimal(28, 6)", "boolean" -> "boolean",
                  "timestamp" -> "timestamp").getOrElse(t, t))
              case other => fail(s"api.${other._1}.${other._2} is not implemented")
            }
          }
          // exceptions.raise_compiler_error / exceptions.warn
          if (name == "exceptions" && peek == '.') {
            i += 1
            val m = word()
            val (pos, _) = parseArgs()
            m match {
              case "raise_compiler_error" =>
                throw new IllegalArgumentException(
                  s"compiler error: ${pos.headOption.map(str).getOrElse("")}")
              case "raise_not_implemented" =>
                // reference exceptions.raise_not_implemented (wrapped
                // NotImplementedError) — the adapter-macro stub idiom
                throw new UnsupportedOperationException(
                  s"not implemented: ${pos.headOption.map(str).getOrElse("")}")
              case "warn" =>
                // reference I061 JinjaLogWarning (exceptions.warn)
                graft.run.EventLog.warn("jinja_log_warning", "code" -> "I061",
                  "msg" -> pos.headOption.map(str).getOrElse(""))
                return JS("")
              case other => fail(s"unknown exceptions.$other")
            }
          }
          // package-qualified macro call: pkg.macro(...)
          if (peek == '.' && ctx.macroResolver(s"$name.${wordAt(i + 1)}").isDefined) {
            i += 1
            val mname = word()
            val (pos, kw) = parseArgs()
            return callMacro(s"$name.$mname", pos, kw)
          }
          if (peek == '(') {
            val (pos, kw) = parseArgs()
            // a local holding a macro value is callable: {{ m(...) }}
            scope.lookup(name) match {
              case Some(jm: JMacro) => invokeMacro(jm, pos, kw)
              case _ => callFunction(name, pos, kw)
            }
          } else resolveName(name)
        case _ => fail(s"unexpected `${src.substring(i)}`")
      }
    }

    private def wordAt(j0: Int): String = {
      var j = j0
      while (j < src.length && src(j).isWhitespace) j += 1
      val s = j
      while (j < src.length && (src(j).isLetterOrDigit || src(j) == '_')) j += 1
      src.substring(s, j)
    }

    // ------------------------------------------------- name resolution

    private def resolveName(name: String): JV = name match {
      case "true" | "True" => JB(true)
      case "false" | "False" => JB(false)
      case "none" | "None" | "null" => JNull
      case "this" => ctx.relationFor(ctx.thisRelation)
      // reference `execute` context flag: render is the execute phase.
      // The parse-time walk (capture) evaluates no `{% if %}` condition
      // of the node's own template, so it walks both sides of
      // `{% if execute %}`; a macro it renders sees true
      case "execute" => JB(true)
      // `thread_id` contextproperty (reference base.py:614-617)
      case "thread_id" => JS(Thread.currentThread().getName)
      // `sql_now` contextproperty (reference providers.py:1369-1370 —
      // adapter.date_function(); dbt-spark's is current_timestamp())
      case "sql_now" => JS("current_timestamp()")
      // `env` contextproperty — an alias for the target dict
      // (reference providers.py:1225-1226 `def env: return self.target`)
      case "env" => resolveName("target")
      // `dbt_metadata_envs` (reference providers.py:851-852 →
      // get_metadata_vars(): env vars with the DBT_ENV_CUSTOM_ENV_
      // prefix, keyed by suffix). Unit-test env overrides shadow the
      // process environment, same as env_var.
      case "dbt_metadata_envs" =>
        val pref = "DBT_ENV_CUSTOM_ENV_"
        JM((sys.env ++ ctx.envOverrides).collect {
          case (k, v) if k.startsWith(pref) => k.drop(pref.length) -> (JS(v): JV)
        })
      // `flags` contextproperty (reference base.py:655-668): typed
      // booleans — a string "false" would be truthy in `{% if %}`
      case "flags" =>
        JM(Map[String, JV]("FULL_REFRESH" -> JB(false),
          "STORE_FAILURES" -> JB(false), "WHICH" -> JS("run")) ++ ctx.flags)
      // `modules` contextproperty (base.py:630-653): minimal
      // datetime/re/itertools namespaces, dispatched in methodCall
      case "modules" =>
        JM(Map(
          "re" -> JM(Map("__module" -> (JS("re"): JV))),
          "itertools" -> JM(Map("__module" -> (JS("itertools"): JV))),
          "pytz" -> JM(Map("__module" -> (JS("pytz"): JV))),
          "datetime" -> JM(Map(
            "__module" -> (JS("datetime"): JV),
            "datetime" -> (JM(Map("__module" -> (JS("datetime.datetime"): JV))): JV),
            "date" -> (JM(Map("__module" -> (JS("datetime.date"): JV))): JV)))))
      case _ =>
        scope.lookup(name)
          // engine-installed rich values: graph, model,
          // invocation_args_dict, defer_relation … — forced here when
          // the engine installed them as thunks (lazy: building the
          // graph dict must not happen per render, only per access)
          .orElse(ctx.typedValues.get(name).map {
            case JThunk(f) => f()
            case v => v
          })
          .orElse(ctx.builtins.get(name).map(JS(_)))
          // macros are template-level names in Jinja2 — a bare
          // reference yields the macro OBJECT (what
          // `try_or_compiler_error('…', my_macro)` passes along).
          // CrossDb builtins are EXCLUDED here: their names are common
          // words (length, date, replace, hash, …) and in jinja2 a bare
          // `{% if date %}` on an undefined name is falsy — only
          // user/project macros are template-level names; the builtin
          // dbt namespace stays reachable via call syntax (ADVICE r14).
          .orElse(ctx.macroResolver(name)
            .filterNot(m => CrossDb.macros.get(name).exists(_ eq m))
            .map(JMacro(_)))
          .getOrElse {
            // dotted builtins ("target.name") surface as a dict
            val pref = name + "."
            val sub = ctx.builtins.collect {
              case (k, v) if k.startsWith(pref) => k.drop(pref.length) -> (JS(v): JV)
            }
            if (sub.nonEmpty) JM(sub.toMap) else JUndef(s"{{ $name }}")
          }
    }

    // -------------------------------------------------------- functions

    private def str(v: JV): String = show(v)

    private def callFunction(name: String, pos: Seq[JV], kw: Map[String, JV]): JV =
      name match {
        case "ref" =>
          // ref('m') | ref('m', v=2) | ref('pkg', 'm') — names are
          // globally unique, so the package qualifier only disambiguates
          if (pos.isEmpty || pos.length > 2) throw new IllegalArgumentException(
            s"ref() takes at most two arguments (${pos.length} given)")
          val base = if (pos.length == 2) str(pos(1)) else str(pos.head)
          val pinned = kw.get("v").orElse(kw.get("version"))
            .map(v => s"$base.v${str(v)}").getOrElse(base)
          ctx.relationFor(ctx.resolveRef(pinned))
        case "source" =>
          if (pos.length != 2) throw new IllegalArgumentException(
            s"source() takes exactly two arguments (${pos.length} given)")
          ctx.relationFor(ctx.resolveSource(str(pos.head), str(pos(1))))
        case "var" =>
          // string map first (scalars + unit-test overrides), then the
          // TYPED map (list/dict vars — `{% for r in var('regions') %}`)
          ctx.vars.get(str(pos.head)).map(JS(_))
            .orElse(ctx.typedVars.get(str(pos.head)))
            .orElse(pos.lift(1).orElse(kw.get("default")))
            .getOrElse {
              // reference RequiredVarNotFoundError (exceptions.py:322):
              // names the missing var and lists what WAS supplied
              val supplied = ctx.vars.keys.toSeq.sorted
                .map(k => s""""$k": "${ctx.vars(k)}"""").mkString("{", ", ", "}")
              throw new IllegalArgumentException(
                s"Required var '${str(pos.head)}' not found in config:\n" +
                  s"Vars supplied to <Configuration> = $supplied")
            }
        case "env_var" =>
          val k = str(pos.head)
          if (Secrets.isSecret(k)) {
            // reference base.py:311-312: hard error outside
            // profiles/packages rendering; inside, the render sees an
            // opaque placeholder (secret.py:22-33) that
            // Secrets.substitute resolves AFTER the render — Jinja can
            // never touch the value itself
            if (!ctx.secretContext)
              throw new IllegalArgumentException(
                "Secret env vars are allowed only in profiles.yml or " +
                  s"packages.yml. Found '$k' referenced elsewhere.")
            if (Secrets.get(k).isDefined) JS(Secrets.placeholder(k))
            else pos.lift(1).getOrElse(throw new IllegalArgumentException(
              s"Env var required but not provided: '$k'"))
          } else {
            ctx.envSink.foreach(_(k))
            ctx.envOverrides.get(k).orElse(sys.env.get(k)).map(JS(_))
              .orElse(pos.lift(1))
              .getOrElse(throw new IllegalArgumentException(
                s"Env var required but not provided: '$k'"))
          }
        case "is_incremental" => JB(ctx.isIncremental)
        // reference providers.py:944-945: render a STRING through the
        // current context — the "jinja in a var/config value" idiom
        case "render" if pos.nonEmpty =>
          JS(Jinja.render(str(pos.head), ctx))
        // reference providers.py:948-954: call the function value, and
        // on ANY exception re-raise as a compiler error carrying the
        // caller's message
        case "try_or_compiler_error" =>
          val msg = str(pos.head)
          val rest = pos.drop(2)
          try pos(1) match {
            case jm: JMacro => invokeMacro(jm, rest, kw - "message_if_exception")
            case JThunk(f) => f()
            case other => throw new IllegalArgumentException(
              s"try_or_compiler_error: not callable: ${show(other)}")
          } catch {
            case mr: MacroReturn => throw mr // return() is control flow, not failure
            case _: Exception =>
              throw new IllegalArgumentException(s"compiler error: $msg")
          }
        // reference providers.py:869-911 store_result/store_raw_result:
        // write a result slot the same render (or a post-hook) can
        // load_result(). store_raw_result's extra fields ride along.
        case "store_result" | "store_raw_result" =>
          val sink = ctx.resultSink.getOrElse(throw new IllegalArgumentException(
            s"$name is not available in this render context"))
          val slot = str(pos.head)
          def field(k: String, at: Int): Option[(String, String)] =
            kw.get(k).orElse(pos.lift(at)).filter(_ != JNull).map(v => k -> str(v))
          val fields = Map("status" -> "SUCCESS") ++
            (if (name == "store_raw_result")
              field("message", 1) ++ field("code", 2) ++ field("rows_affected", 3)
            else field("response", 1).map { case (_, v) => "message" -> v })
          sink(slot, fields)
          JS("")
        // reference providers.py:957-969: seed contexts only — the
        // engine installs the parsed seed rows; anywhere else is the
        // reference's LoadAgateTableNotSeedError
        case "load_agate_table" =>
          ctx.typedValues.getOrElse("__agate_table",
            throw new IllegalArgumentException(
              "can only load_agate_table for seeds (this context is not a seed)")) match {
            case JThunk(f) => f()
            case v => v
          }
        // deprecated in v0.18 in favor of adapter.dispatch — the
        // reference raises unconditionally (providers.py:1373-1382)
        case "adapter_macro" =>
          throw new IllegalArgumentException(
            "The \"adapter_macro\" macro has been deprecated. Instead, use " +
              "the `adapter.dispatch` method to find a macro and call the " +
              s"result. adapter_macro was called for: ${pos.headOption.map(str).getOrElse("")}")
        case "local_md5" =>
          JS(java.security.MessageDigest.getInstance("MD5")
            .digest(str(pos.head).getBytes("UTF-8")).map("%02x".format(_)).mkString)
        case "log" | "print" =>
          // reference I062 JinjaLogInfo (`log(msg, info=True)` and
          // `print()`) vs I063 JinjaLogDebug (bare `log(msg)`)
          val msg = pos.map(str).mkString(" ")
          val info = name == "print" ||
            kw.get("info").exists { case JB(b) => b; case v => str(v) == "True" }
          if (info)
            graft.run.EventLog.info("jinja_log_info", "code" -> "I062", "msg" -> msg)
          else
            graft.run.EventLog.emit("jinja_log_debug", "debug",
              "code" -> "I063", "msg" -> msg)
          JS("")
        case "load_result" =>
          val slot = str(pos.head)
          // live slots first — a store_result in the SAME render must
          // be loadable (reference sql_results is one mutable dict)
          ctx.resultLookup.flatMap(f => f(slot)).orElse(ctx.results.get(slot)) match {
            case Some(fields) => JM(fields.map { case (k, v) => k -> (JS(v): JV) })
            case None => throw new IllegalArgumentException(
              s"load_result('$slot'): no such result slot")
          }
        case "range" =>
          val (lo, hi) = pos match {
            case Seq(JN(a, _)) => (BigDecimal(0), a)
            case Seq(JN(a, _), JN(b, _)) => (a, b)
            case _ => fail("range(stop) or range(start, stop)")
          }
          jlist((lo.toInt until hi.toInt).map(jint(_)))
        case "return" =>
          // non-local macro exit carrying the VALUE (lists included)
          throw MacroReturn(pos.headOption.getOrElse(JNull))
        case "namespace" =>
          // jinja2.utils.Namespace: kwargs (and/or dict positionals)
          // seed the attribute map; later {% set ns.x = v %} mutates it
          val seed = scala.collection.mutable.Map.empty[String, JV]
          pos.foreach {
            case JM(m) => seed ++= m
            case other => fail(s"namespace(): dict positional expected, got ${show(other)}")
          }
          seed ++= kw
          JNs(seed)
        case "run_query" =>
          // reference `run_query` context member: execute SQL mid-render
          // and expose an agate-shaped result (columns/rows) to the
          // template — the dynamic-SQL-from-data primitive community
          // macros (get_column_values & co.) are written against.
          val runner = ctx.queryRunner.getOrElse(
            throw new IllegalArgumentException(
              "run_query is not available in this render context"))
          val (cols, rows) = runner(str(pos.head))
          val colVals = cols.zipWithIndex.map { case (cn, ci) =>
            JM(Map("name" -> JS(cn),
              "values" -> jlist(rows.map(r => r(ci))))): JV
          }
          JM(Map(
            "columns" -> jlist(colVals),
            "rows" -> jlist(rows.map(r => jlist(r))),
            "data" -> jlist(rows.map(r => jlist(r)))))
        // ---- JSON/YAML/iterable context members (reference
        // `core/dbt/context/base.py:374-727`); `default` (positional or
        // kwarg) is returned on conversion failure, mirroring the
        // reference's try/except
        case "fromjson" =>
          val dflt = pos.lift(1).orElse(kw.get("default")).getOrElse(JNull)
          try fromJsonValue(str(pos.head)) catch { case _: Exception => dflt }
        case "tojson" =>
          val dflt = pos.lift(1).orElse(kw.get("default")).getOrElse(JNull)
          val sk = kw.get("sort_keys").orElse(pos.lift(2)).exists(truthy)
          try JS(toJsonString(pos.head, sk)) catch { case _: Exception => dflt }
        case "fromyaml" =>
          val dflt = pos.lift(1).orElse(kw.get("default")).getOrElse(JNull)
          try fromYamlValue(str(pos.head)) catch { case _: Exception => dflt }
        case "toyaml" =>
          val dflt = pos.lift(1).orElse(kw.get("default")).getOrElse(JNull)
          val sk = kw.get("sort_keys").orElse(pos.lift(2)).exists(truthy)
          try JS(toYamlString(pos.head, sk)) catch { case _: Exception => dflt }
        case "set" | "set_strict" =>
          // insertion-order dedup (python's set has no defined order;
          // deterministic order is strictly more reproducible). Keys are
          // typed so 1 vs "1" / true vs "true" never collide, while
          // python's numeric-tower equality (True == 1 == 1.0) is kept
          // by keying all numbers and booleans on the numeric value.
          def dedupKey(x: JV): String = x match {
            case JN(v, _) => "num:" + v.bigDecimal.stripTrailingZeros.toPlainString
            case JB(b) => "num:" + (if (b) "1" else "0")
            case JS(s) => "str:" + s
            case o => "val:" + show(o)
          }
          def dedup(xs: Seq[JV]): JV = {
            val seen = scala.collection.mutable.LinkedHashSet[String]()
            val out = scala.collection.mutable.ArrayBuffer[JV]()
            xs.foreach { x => val k = dedupKey(x)
              if (!seen.contains(k)) { seen += k; out += x } }
            JL(out)
          }
          pos.head match {
            case JL(xs) => dedup(xs.toSeq)
            case JS(s) => dedup(s.map(c => JS(c.toString)))
            case _ if name == "set_strict" =>
              throw new IllegalArgumentException(
                s"set_strict: not an iterable: ${show(pos.head)}")
            case _ => kw.get("default").orElse(pos.lift(1)).getOrElse(JNull)
          }
        case "zip" | "zip_strict" =>
          val strict = name == "zip_strict"
          val dflt = kw.get("default").getOrElse(JNull)
          val lists = pos.takeWhile(_.isInstanceOf[JL]).collect { case JL(xs) => xs }
          if (lists.length != pos.length) {
            if (strict) throw new IllegalArgumentException(
              "zip_strict: arguments must be iterables")
            else dflt
          } else if (lists.isEmpty) jlist(Nil)
          else jlist((0 until lists.map(_.length).min)
            .map(i => jlist(lists.map(_(i)).toSeq)))
        case "diff_of_two_dicts" =>
          // Dict[str, List[str]] minus, case-insensitive values, keys
          // keep dict_a's case (reference base.py:691-718)
          val (a, b) = (pos.head, pos(1)) match {
            case (JM(ma), JM(mb)) => (ma, mb)
            case _ => fail("diff_of_two_dicts(dict_a, dict_b)")
          }
          def lows(v: JV): Seq[String] = v match {
            case JL(xs) => xs.toSeq.map(x => str(x).toLowerCase)
            case o => Seq(str(o).toLowerCase)
          }
          val bLow = b.map { case (k, v) => k.toLowerCase -> lows(v) }
          val out = a.flatMap { case (k, v) =>
            bLow.get(k.toLowerCase) match {
              case None => Some(k -> v)
              case Some(bs) =>
                val kept = (v match {
                  case JL(xs) => xs.toSeq
                  case o => Seq(o)
                }).filterNot(x => bs.contains(str(x).toLowerCase))
                if (kept.nonEmpty) Some(k -> (jlist(kept): JV)) else None
            }
          }
          JM(out)
        // renders as ""; the parse-time walk records the call
        case "config" =>
          ctx.configSink.foreach(_(pos.collect { case JM(m) => m }
            .foldLeft(Map.empty[String, JV])(_ ++ _) ++ kw))
          JS("")
        case "exceptions" => JS("")
        case other =>
          scope.lookup(other) match {
            // renderer-bound callables (super() in an overridden block)
            case Some(JThunk(f)) if pos.isEmpty && kw.isEmpty => f()
            case _ =>
              ctx.macroResolver(other) match {
                case Some(_) => callMacro(other, pos, kw)
                case None => JUndef(s"{{ $other(…) }}")
              }
          }
      }

    /** Macro call in expression position: bind args to params as LOCALS
      * (lexical scoping, so nested macro calls inside the body resolve
      * recursively), render the body, return its text.
      */
    private def callMacro(name: String, pos: Seq[JV], kw: Map[String, JV]): JV =
      invokeMacro(JMacro(ctx.macroResolver(name).getOrElse(
        throw new IllegalArgumentException(s"unknown macro: $name"))), pos, kw)

    private def invokeMacro(jm: JMacro, pos: Seq[JV],
        kw: Map[String, JV]): JV = {
      val m = jm.m
      val params = m.params
      // Jinja2 varargs/kwargs introspection (VERDICT r12 missing-list
      // item 4): extra positional args land in `varargs`, keyword args
      // not matching a declared param land in `kwargs` — but ONLY when
      // the macro body actually references those names
      // (jinja2.runtime.Macro catch_varargs/catch_kwargs are
      // body-dependent); a macro that never reads them raises a
      // TypeError on extras, so a typo'd kwarg cannot silently vanish.
      val extraPos = pos.drop(params.length)
      if (extraPos.nonEmpty && !m.catchesVarargs)
        throw new IllegalArgumentException(
          s"macro ${m.name}: takes ${if (params.isEmpty) "no arguments"
            else s"at most ${params.length} positional argument(s)"}, " +
            s"got ${pos.length} (jinja2 TypeError — the body does not " +
            "access varargs)")
      val extraKw = kw.view.filterKeys(k => !params.exists(_._1 == k)).toMap
      if (extraKw.nonEmpty && !m.catchesKwargs)
        throw new IllegalArgumentException(
          s"macro ${m.name}: unexpected keyword argument(s) " +
            extraKw.keys.toSeq.sorted.mkString("'", "', '", "'") +
            " (jinja2 TypeError — the body does not access kwargs)")
      val varargs = jlist(extraPos)
      val kwargs = JM(extraKw)
      // defaults evaluate as EXPRESSIONS ([] → empty list, 10 → int,
      // none → null); extractMacros strips quotes from string defaults,
      // so an unresolvable bare word falls back to its literal text
      def defaultValue(d: String): JV =
        try new ExprParser(d, ctx, scope, depth).parseExpression() match {
          case JUndef(_) => JS(d)
          case v => v
        } catch { case _: IllegalArgumentException => JS(d) }
      val bound = params.zipWithIndex.map { case ((pn, dflt), idx) =>
        pn -> pos.lift(idx).orElse(kw.get(pn)).getOrElse(
          dflt.map(defaultValue).getOrElse(
            throw new IllegalArgumentException(s"macro ${m.name}: missing arg $pn")))
      }.toMap
      // the macro's home-namespace siblings (from {% import %}) bind as
      // locals UNDER the params, so a sibling call inside the body
      // resolves without project-wide registration
      val sibLocals = jm.siblings.collect {
        case (n, d) if !bound.contains(n) => n -> (JMacro(d, jm.siblings): JV)
      }
      val introspection = Map[String, JV]("varargs" -> varargs, "kwargs" -> kwargs)
      try JS(renderWith(m.body, ctx,
        introspection ++ sibLocals ++ bound, depth + 1).trim)
      catch { case MacroReturn(v) => v } // {{ return(v) }} carries the value out
    }

    // ---------------------------------------------------------- filters

    private def applyFilter(v: JV, name: String, args: Seq[JV],
        kw: Map[String, JV] = Map.empty): JV = name match {
      // map("lower") applies a filter per element; map(attribute=k)
      // projects an attribute/index per element — the agate-row idiom
      case "map" => v match {
        case JL(xs) =>
          kw.get("attribute") match {
            case Some(attr) => jlist(xs.toSeq.map {
              case JM(m) => m.getOrElse(show(attr), JNull)
              case JL(row) =>
                val k = attr match { case JN(n, _) => n.toInt case _ => -1 }
                if (k >= 0 && k < row.length) row(k) else JNull
              case other => other
            })
            case None =>
              val f = args.headOption.map(show).getOrElse(
                fail("map needs a filter name or attribute="))
              jlist(xs.toSeq.map(x => applyFilter(x, f, Nil)))
          }
        case other => fail(s"map over ${show(other)}")
      }
      case "lower" => JS(str(v).toLowerCase)
      case "upper" => JS(str(v).toUpperCase)
      case "trim" => JS(str(v).trim)
      case "capitalize" => JS(str(v).capitalize)
      case "title" =>
        JS(str(v).split(" ").map(_.capitalize).mkString(" "))
      case "join" =>
        val sep = args.headOption.map(str).getOrElse("")
        v match {
          case JL(xs) => JS(xs.map(str).mkString(sep))
          case other => JS(str(other))
        }
      case "replace" => JS(str(v).replace(str(args.head), str(args(1))))
      case "default" =>
        val strict = args.lift(1).exists(truthy)
        v match {
          case JUndef(_) | JNull => args.head
          case x if strict && !truthy(x) => args.head
          case x => x
        }
      case "length" | "count" => v match {
        case JL(xs) => jint(xs.length)
        case JS(s) => jint(s.length)
        case JM(m) => jint(m.size)
        case _ => fail(s"length of ${show(v)}")
      }
      case "first" => v match {
        case JL(xs) => xs.headOption.getOrElse(JNull)
        case JS(s) => if (s.nonEmpty) JS(s.head.toString) else JNull
        case _ => fail("first")
      }
      case "last" => v match {
        case JL(xs) => xs.lastOption.getOrElse(JNull)
        case JS(s) => if (s.nonEmpty) JS(s.last.toString) else JNull
        case _ => fail("last")
      }
      case "unique" => v match {
        case JL(xs) => JL(xs.distinct)
        case other => other
      }
      case "sort" => v match {
        case JL(xs) => JL(xs.sortBy(str))
        case other => other
      }
      case "reverse" => v match {
        case JL(xs) => JL(xs.reverse)
        case JS(s) => JS(s.reverse)
        case other => other
      }
      case "list" => v match {
        case l: JL => l
        case JS(s) => jlist(s.map(c => JS(c.toString)))
        case JM(m) => jlist(m.keys.toSeq.map(JS(_)))
        case other => jlist(Seq(other))
      }
      case "string" => JS(str(v))
      case "int" => v match {
        case JN(n, _) => jint(n.toLong)
        case JS(s) => scala.util.Try(jint(s.trim.toDouble.toLong))
          .getOrElse(args.headOption.getOrElse(jint(0)))
        case JB(b) => jint(if (b) 1 else 0)
        case _ => args.headOption.getOrElse(jint(0))
      }
      case "float" => v match {
        case JN(n, _) => JN(n, isInt = false)
        case JS(s) => scala.util.Try(JN(BigDecimal(s.trim), isInt = false))
          .getOrElse(args.headOption.getOrElse(JN(0, isInt = false)))
        case _ => args.headOption.getOrElse(JN(0, isInt = false))
      }
      case "round" =>
        val places = args.headOption.collect { case JN(n, _) => n.toInt }.getOrElse(0)
        v match {
          case JN(n, _) => JN(n.setScale(places, BigDecimal.RoundingMode.HALF_UP),
            isInt = false)
          case _ => fail("round")
        }
      case "abs" => v match {
        case JN(n, isInt) => JN(n.abs, isInt)
        case _ => fail("abs")
      }
      case "min" => v match {
        case JL(xs) if xs.nonEmpty => xs.minBy(x => BigDecimal(str(x)))
        case _ => fail("min")
      }
      case "max" => v match {
        case JL(xs) if xs.nonEmpty => xs.maxBy(x => BigDecimal(str(x)))
        case _ => fail("max")
      }
      case "sum" => v match {
        case JL(xs) => xs.foldLeft(jint(0))((acc, x) => arith(acc, x, "+"))
        case _ => fail("sum")
      }
      case "escape" | "e" => JS(str(v).replace("'", "''"))
      case other =>
        // user-defined filters: a project macro named like the filter
        // serves `{{ value | my_filter(args) }}` with the piped value as
        // first positional arg — the hermetic analog of Jinja2 custom
        // filter registration (the reference environment lets python
        // code register filters; a dbt project's only authorable unit
        // is the macro, so macros ARE the registration surface here).
        ctx.macroResolver(other) match {
          case Some(_) => callMacro(other, v +: args, kw)
          case None => fail(s"unknown filter `$other`")
        }
    }

    // ----------------------------------------------------- string methods

    private def methodCall(v: JV, name: String, args: Seq[JV]): JV = (v, name) match {
      case (JS(s), "upper") => JS(s.toUpperCase)
      case (JS(s), "lower") => JS(s.toLowerCase)
      case (JS(s), "strip") => JS(s.trim)
      case (JS(s), "lstrip") => JS(s.replaceAll("^\\s+", ""))
      case (JS(s), "rstrip") => JS(s.replaceAll("\\s+$", ""))
      case (JS(s), "split") =>
        val sep = args.headOption.map(str).getOrElse(" ")
        jlist(s.split(java.util.regex.Pattern.quote(sep), -1).toSeq.map(JS(_)))
      case (JS(s), "startswith") => JB(s.startsWith(str(args.head)))
      case (JS(s), "endswith") => JB(s.endsWith(str(args.head)))
      case (JS(s), "replace") => JS(s.replace(str(args.head), str(args(1))))
      case (JS(s), "format") =>
        // positional {} substitution only
        JS(args.foldLeft(s)((acc, a) => acc.replaceFirst("\\{\\}",
          java.util.regex.Matcher.quoteReplacement(str(a)))))
      case (JL(xs), "append") => xs += args.head; JNull
      case (JL(xs), "extend") =>
        args.head match { case JL(ys) => xs ++= ys; JNull; case o => xs += o; JNull }
      case (JL(xs), "pop") =>
        if (xs.isEmpty) JNull else xs.remove(xs.length - 1)
      case (JM(m), "get") =>
        m.get(str(args.head)).orElse(args.lift(1)).getOrElse(JNull)
      case (JM(m), "keys") => jlist(m.keys.toSeq.map(JS(_)))
      case (JM(m), "items") =>
        jlist(m.toSeq.map { case (k, v2) => jlist(Seq(JS(k), v2)): JV })
      // an agate-ish column object ({name, values}) answers .values()
      // with its value LIST, not the dict's values
      case (JM(m), "values") if m.contains("values") => m("values")
      case (JM(m), "values") => jlist(m.values.toSeq)
      case (JM(m), meth) if m.get("__module").isDefined =>
        moduleCall(str(m("__module")), meth, args)
      case (JM(m), meth) if m.get("__type").exists(t => str(t) == "date" ||
          str(t) == "datetime") => dateMethod(m, meth, args)
      // pytz timezone object: localize attaches the zone WITHOUT
      // shifting the wall time (pytz semantics)
      case (JM(m), "localize") if m.get("__type").exists(t => str(t) == "tz") =>
        args.head match {
          case JM(dt) if dt.contains("__type") =>
            JM(dt + ("tzinfo" -> (m("zone"): JV)))
          case o => fail(s"localize expects a datetime, got ${show(o)}")
        }
      case _ => fail(s"unknown method `.$name()` on ${show(v)}")
    }

    // ------------------------------------- `modules.*` (base.py:630-653)

    /** python replacement-string semantics → java Matcher replacement:
      * `\N` backrefs become `$N`; literal `$` and stray `\` are escaped
      * (Matcher treats them as group refs / quotes otherwise, unlike
      * python re.sub); `\\`/`\n`/`\t`/`\r` unescape as python does.
      */
    private def pyRepl(r: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < r.length) {
        r.charAt(i) match {
          case '\\' if i + 1 < r.length =>
            r.charAt(i + 1) match {
              case d if d.isDigit => sb.append('$').append(d)
              case '\\' => sb.append("\\\\")
              case 'n' => sb.append('\n')
              case 't' => sb.append('\t')
              case 'r' => sb.append('\r')
              case '$' => sb.append("\\\\").append("\\$")
              case o => sb.append("\\\\").append(o)
            }
            i += 2
          case '\\' => sb.append("\\\\"); i += 1 // lone trailing backslash
          case '$' => sb.append("\\$"); i += 1
          case c => sb.append(c); i += 1
        }
      }
      sb.toString
    }

    private def mkDate(y: Int, mo: Int, d: Int, tag: String,
        h: Int = 0, mi: Int = 0, se: Int = 0, tz: Option[String] = None): JV =
      JM(Map("__type" -> JS(tag), "year" -> jint(y), "month" -> jint(mo),
        "day" -> jint(d), "hour" -> jint(h), "minute" -> jint(mi),
        "second" -> jint(se)) ++ tz.map(z => "tzinfo" -> (JS(z): JV)))

    private def moduleCall(module: String, meth: String, args: Seq[JV]): JV =
      (module, meth) match {
        case ("re", "match") =>
          // python re.match anchors at the START only
          val m = java.util.regex.Pattern.compile(str(args.head))
            .matcher(str(args(1)))
          if (m.lookingAt()) JS(m.group()) else JNull
        case ("re", "search") =>
          val m = java.util.regex.Pattern.compile(str(args.head))
            .matcher(str(args(1)))
          if (m.find()) JS(m.group()) else JNull
        case ("re", "fullmatch") =>
          val m = java.util.regex.Pattern.compile(str(args.head))
            .matcher(str(args(1)))
          if (m.matches()) JS(m.group()) else JNull
        case ("re", "sub") =>
          JS(str(args(2)).replaceAll(str(args.head), pyRepl(str(args(1)))))
        case ("re", "findall") =>
          val m = java.util.regex.Pattern.compile(str(args.head))
            .matcher(str(args(1)))
          val out = scala.collection.mutable.ArrayBuffer[JV]()
          while (m.find()) out += JS(
            if (m.groupCount() >= 1) m.group(1) else m.group())
          JL(out)
        case ("re", "split") =>
          jlist(str(args(1)).split(str(args.head), -1).toSeq.map(JS(_)))
        case ("re", "escape") =>
          // python 3.7+ re.escape: only the fixed special-char set is
          // escaped — NOT every non-word char (a '@' or '/' passes
          // through unchanged)
          JS(str(args.head).flatMap(c =>
            if ("()[]{}?*+-|^$\\.&~# \t\n\r\f".indexOf(c.toInt) >= 0)
              "\\" + c
            else c.toString))
        case ("pytz", "timezone") =>
          // validates eagerly, like pytz.timezone (UnknownTimeZoneError)
          val z = str(args.head)
          java.time.ZoneId.of(z)
          JM(Map("__type" -> JS("tz"), "zone" -> JS(z)))
        case ("itertools", "chain") =>
          jlist(args.flatMap { case JL(xs) => xs.toSeq; case o => Seq(o) })
        case ("itertools", "product") =>
          val lists = args.collect { case JL(xs) => xs.toSeq }
          jlist(lists.foldLeft(Seq(Seq.empty[JV])) { (acc, l) =>
            acc.flatMap(t => l.map(t :+ _))
          }.map(jlist))
        case ("datetime", "date") =>
          mkDate(num(args.head), num(args(1)), num(args(2)), "date")
        case ("datetime.date", "today") =>
          val t = java.time.LocalDate.now()
          mkDate(t.getYear, t.getMonthValue, t.getDayOfMonth, "date")
        case ("datetime.date", "fromisoformat") =>
          val t = java.time.LocalDate.parse(str(args.head))
          mkDate(t.getYear, t.getMonthValue, t.getDayOfMonth, "date")
        case ("datetime", "datetime") =>
          mkDate(num(args.head), num(args(1)), num(args(2)), "datetime",
            args.lift(3).map(num).getOrElse(0),
            args.lift(4).map(num).getOrElse(0),
            args.lift(5).map(num).getOrElse(0))
        case ("datetime.datetime", "now") | ("datetime.datetime", "utcnow") =>
          val t = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          mkDate(t.getYear, t.getMonthValue, t.getDayOfMonth, "datetime",
            t.getHour, t.getMinute, t.getSecond)
        case ("datetime.datetime", "strptime") =>
          val fmt = java.time.format.DateTimeFormatter.ofPattern(
            pyToJavaFmt(str(args(1))))
          val t = java.time.LocalDateTime.parse(str(args.head),
            new java.time.format.DateTimeFormatterBuilder().append(fmt)
              .parseDefaulting(java.time.temporal.ChronoField.HOUR_OF_DAY, 0)
              .parseDefaulting(java.time.temporal.ChronoField.MINUTE_OF_HOUR, 0)
              .parseDefaulting(java.time.temporal.ChronoField.SECOND_OF_MINUTE, 0)
              .toFormatter())
          mkDate(t.getYear, t.getMonthValue, t.getDayOfMonth, "datetime",
            t.getHour, t.getMinute, t.getSecond)
        case other => fail(s"unsupported modules.$module.$meth")
      }

    private def num(v: JV): Int = v match {
      case JN(n, _) => n.toInt
      case o => str(o).trim.toInt
    }

    /** python strftime directives → java DateTimeFormatter pattern
      * (the %Y/%m/%d/%H/%M/%S subset macros actually use).
      */
    private def pyToJavaFmt(f: String): String = {
      val sb = new StringBuilder
      var j = 0
      while (j < f.length) {
        if (f(j) == '%' && j + 1 < f.length) {
          f(j + 1) match {
            case 'Y' => sb.append("yyyy")
            case 'y' => sb.append("yy")
            case 'm' => sb.append("MM")
            case 'd' => sb.append("dd")
            case 'H' => sb.append("HH")
            case 'M' => sb.append("mm")
            case 'S' => sb.append("ss")
            case 'j' => sb.append("DDD")
            case '%' => sb.append('%')
            case other => fail(s"unsupported strftime directive %$other")
          }
          j += 2
        } else {
          if (f(j).isLetter) sb.append('\'').append(f(j)).append('\'')
          else sb.append(f(j))
          j += 1
        }
      }
      sb.toString
    }

    private def dateMethod(m: Map[String, JV], meth: String, args: Seq[JV]): JV = {
      val (y, mo, d) = (num(m("year")), num(m("month")), num(m("day")))
      val (h, mi, se) = (num(m("hour")), num(m("minute")), num(m("second")))
      meth match {
        case "isoformat" =>
          if (str(m("__type")) == "date") JS(f"$y%04d-$mo%02d-$d%02d")
          else JS(f"$y%04d-$mo%02d-${d}%02dT$h%02d:$mi%02d:$se%02d")
        case "strftime" =>
          val fmt = java.time.format.DateTimeFormatter.ofPattern(
            pyToJavaFmt(str(args.head)))
          JS(java.time.LocalDateTime.of(y, mo, d, h, mi, se).format(fmt))
        case "date" =>
          mkDate(y, mo, d, "date")
        case "weekday" =>
          JN(BigDecimal(java.time.LocalDate.of(y, mo, d).getDayOfWeek.getValue - 1),
            isInt = true)
        case "astimezone" =>
          // convert the instant to the target zone; a naive datetime is
          // taken as UTC (this engine's run_started_at convention)
          val target = args.head match {
            case JM(t) if t.get("__type").exists(x => str(x) == "tz") =>
              str(t("zone"))
            case o => str(o)
          }
          val from = m.get("tzinfo").map(str).getOrElse("UTC")
          val z = java.time.ZonedDateTime
            .of(y, mo, d, h, mi, se, 0, java.time.ZoneId.of(from))
            .withZoneSameInstant(java.time.ZoneId.of(target))
          mkDate(z.getYear, z.getMonthValue, z.getDayOfMonth, "datetime",
            z.getHour, z.getMinute, z.getSecond, Some(target))
        case other => fail(s"unsupported date method .$other()")
      }
    }
  }
}
