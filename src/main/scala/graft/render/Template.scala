package graft.render

import scala.util.matching.Regex

/** Template front-end: macro extraction (`{% macro %}`, `{% test %}`,
  * `{% materialization %}` blocks), run-operation arg binding, and the
  * render [[Context]]. Rendering is [[Jinja.render]] (nested if/for,
  * filters, expression set, macro calls with lexical scoping — see
  * Jinja's scaladoc for the declared subset); a node's refs, sources
  * and config are found at parse time by [[Jinja.capture]], a walk
  * over the same parse tree the render uses.
  */
object Template {

  /** A25/A16 macro subset: `{% macro name(a, b='x') %}body{% endmacro %}`.
    * Bodies are SQL text whose `{{ param }}` placeholders bind at
    * invocation (reference macro blocks,
    * `core/dbt/clients/jinja.py:191-210`; run-operation
    * `core/dbt/task/run_operation.py`).
    */
  final case class MacroDef(
      name: String,
      params: Seq[(String, Option[String])], // (name, default)
      body: String,
      /** owning package (A32 deps) — namespaces the macro as
        * `<pkg>.<name>` and drives package-precedence resolution. */
      pkg: String = "graft") {
    /** Jinja2's catch_varargs/catch_kwargs are BODY-dependent
      * (jinja2.runtime.Macro: extras are tolerated only when the
      * macro body references the special `varargs`/`kwargs` names;
      * otherwise a call with extras is a TypeError). Computed once at
      * definition; a bare word-boundary scan matches jinja2's
      * frame-analysis of Name nodes closely enough for template text.
      */
    lazy val catchesVarargs: Boolean =
      body.contains("varargs") && MacroDef.varargsRe.findFirstIn(body).isDefined
    lazy val catchesKwargs: Boolean =
      body.contains("kwargs") && MacroDef.kwargsRe.findFirstIn(body).isDefined
  }

  object MacroDef {
    private val varargsRe = """(?<![\w.])varargs\b""".r
    private val kwargsRe = """(?<![\w.])kwargs\b""".r
  }

  // signature group tolerates one level of call nesting and quoted
  // parens in defaults: f(xs=['a','b'], g=foo(1), s='(')
  private val macroRe: Regex =
    ("""(?s)\{%\s*macro\s+(\w+)\s*\(((?:[^()'"]|'[^']*'|"[^"]*"|\([^()]*\))*)\)""" +
      """\s*%\}(.*?)\{%\s*endmacro\s*%\}""").r

  /** Custom generic tests (reference `{% test name(model, column_name)
    * %}` blocks, `core/dbt/clients/jinja.py` GENERIC_TEST_KEY): a test
    * block IS a macro named `test_<name>` whose rendered body is the
    * failing-rows SELECT — exactly how dbt registers them, so schema-
    * YAML references (`tests: [name]`) resolve through the ordinary
    * macro namespace, packages included.
    */
  private val testBlockRe: Regex =
    ("""(?s)\{%\s*test\s+(\w+)\s*\(((?:[^()'"]|'[^']*'|"[^"]*"|\([^()]*\))*)\)""" +
      """\s*%\}(.*?)\{%\s*endtest\s*%\}""").r

  /** Split at top-level separators only — commas inside brackets,
    * parens, braces, or quotes stay with their element (fixes list/
    * call-valued macro param defaults the old naive split broke).
    */
  private[render] def splitTopLevel(s: String, sep: Char = ','): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    for (c <- s) {
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '[' | '(' | '{' => depth += 1; cur += c
        case ']' | ')' | '}' => depth -= 1; cur += c
        case x if x == sep && depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    out += cur.toString
    out.toSeq
  }

  private def parseParams(sig: String): Seq[(String, Option[String])] =
    splitTopLevel(sig).map(_.trim).filter(_.nonEmpty).map { p =>
      p.split("=", 2) match {
        case Array(n, d) =>
          val dt = d.trim
          // bare string defaults lose their quotes (the evaluator
          // falls back to literal text); structured defaults keep
          // their full expression text for expression evaluation
          val cleaned =
            if ((dt.startsWith("'") && dt.endsWith("'") && dt.length >= 2) ||
                (dt.startsWith("\"") && dt.endsWith("\"") && dt.length >= 2))
              dt.substring(1, dt.length - 1)
            else dt
          n.trim -> Some(cleaned)
        case Array(n) => n.trim -> None
      }
    }

  def extractMacros(text: String): Seq[MacroDef] =
    macroRe.findAllMatchIn(text).map { m =>
      MacroDef(m.group(1), parseParams(m.group(2)), m.group(3).trim)
    }.toSeq ++
      testBlockRe.findAllMatchIn(text).map { m =>
        MacroDef(s"test_${m.group(1)}", parseParams(m.group(2)), m.group(3).trim)
      }.toSeq ++
      materializationRe.findAllMatchIn(text).map { m =>
        val adapter = Option(m.group(2)).getOrElse(m.group(3))
        MacroDef(s"materialization_${m.group(1)}_$adapter", Nil, m.group(4).trim)
      }.toSeq

  /** Custom materializations (reference `{% materialization name,
    * adapter='x' %}` / `{% materialization name, default %}` blocks,
    * `core/dbt/clients/jinja.py` MATERIALIZATION_KEY): registered as a
    * macro named `materialization_<name>_<adapter>`, the reference's
    * exact internal naming, so Engine's dispatch can try the
    * adapter-specific spelling before `default` — the
    * `find_materialization_macro_by_name` chain.
    */
  private val materializationRe: Regex =
    ("""(?s)\{%\s*materialization\s+(\w+)\s*,\s*""" +
      """(?:adapter\s*=\s*['"](\w+)['"]|(\w+))\s*%\}""" +
      """(.*?)\{%\s*endmaterialization\s*%\}""").r

  /** A16 `{% call statement('name', fetch_result=true) %}sql{% endcall %}`
    * blocks (reference statement call blocks,
    * `core/dbt/clients/jinja.py` + the adapters' `statement` macro):
    * the inner SQL executes against the warehouse and its result lands
    * in the named result slot, so a later statement in the same macro
    * body can read `{{ load_result('name').rows_affected }}`.
    */
  sealed trait MacroSegment
  final case class CallStatement(slot: String, fetchResult: Boolean,
      sql: String) extends MacroSegment
  final case class SqlText(sql: String) extends MacroSegment

  private val callStatementRe: Regex =
    ("""(?s)\{%\s*call\s+statement\(\s*['"]([^'"]+)['"]\s*""" +
      """(?:,\s*fetch_result\s*=\s*(?i:(true|false))\s*)?""" +
      """(?:,\s*auto_begin\s*=\s*(?i:true|false)\s*)?\)\s*%\}""" +
      """(.*?)\{%\s*endcall\s*%\}""").r

  /** Split a macro body into an ordered sequence of call-statement
    * blocks and plain SQL text between them. Plain segments keep their
    * own `;`-separated multi-statement semantics.
    */
  def segmentMacroBody(body: String): Seq[MacroSegment] = {
    val out = scala.collection.mutable.ArrayBuffer[MacroSegment]()
    var last = 0
    for (m <- callStatementRe.findAllMatchIn(body)) {
      val before = body.substring(last, m.start).trim
      if (before.nonEmpty) out += SqlText(before)
      out += CallStatement(m.group(1),
        Option(m.group(2)).exists(_.equalsIgnoreCase("true")),
        m.group(3).trim)
      last = m.end
    }
    val tail = body.substring(last).trim
    if (tail.nonEmpty) out += SqlText(tail)
    out.toSeq
  }

  /** Typed run-operation arg binding: a `{% set name = <literal> %}`
    * preamble prefixed to EVERY rendered segment of the macro body —
    * unlike textual `{{ name }}` substitution, set-bindings reach
    * for-loops/filters/indexing (`{% for s in schemas %}` with
    * `--args '{schemas: [a, b]}'`, the grant-sweep idiom). Unknown
    * args and missing required params are errors (reference kwargs
    * validation).
    */
  def argPreamble(m: MacroDef, args: Map[String, Jinja.JV]): String = {
    val unknown = args.keySet -- m.params.map(_._1).toSet
    require(unknown.isEmpty, s"macro ${m.name}: unknown args ${unknown.mkString(",")}")
    // a declared default is already Jinja literal TEXT when it reads
    // as one (list/dict/number/bool/none); bare words were strings
    def defaultLiteral(d: String): String = {
      val t = d.trim
      if (t.startsWith("[") || t.startsWith("{") ||
        Set("none", "None", "true", "True", "false", "False")(t) ||
        t.matches("-?\\d+(\\.\\d+)?")) t
      else Jinja.toLiteral(Jinja.JS(d))
    }
    m.params.map { case (n, dflt) =>
      val lit = args.get(n).map(Jinja.toLiteral)
        .orElse(dflt.map(defaultLiteral)).getOrElse(
          throw new IllegalArgumentException(s"macro ${m.name}: missing arg $n"))
      s"{% set $n = $lit %}"
    }.mkString
  }

  /** Runtime render context (reference `RuntimeRefResolver`,
    * `core/dbt/context/providers.py:498-583`).
    */
  final case class Context(
      resolveRef: String => String,
      resolveSource: (String, String) => String,
      thisRelation: String,
      vars: Map[String, String] = Map.empty,
      isIncremental: Boolean = false,
      /** context builtins (A26 subset): run_started_at, invocation_id,
        * target.name … — substituted as `{{ name }}`.
        */
      builtins: Map[String, String] = Map.empty,
      /** A27 result slots: `{{ load_result('main').rows_affected }}` —
        * slot → field → value (reference `store_result`/`load_result`,
        * `core/dbt/context/providers.py:859-981`).
        */
      results: Map[String, Map[String, String]] = Map.empty,
      /** env_var values that shadow the process environment (unit-test
        * overrides, A13).
        */
      envOverrides: Map[String, String] = Map.empty,
      /** true ONLY while rendering profiles.yml / packages.yml —
        * the sole contexts where `DBT_ENV_SECRET_*` env vars are
        * legal (reference `context/secret.py`; elsewhere env_var
        * raises SecretEnvVarLocationError). */
      secretContext: Boolean = false,
      /** Macro lookup for calls in expression position — `{{ m(...) }}`
        * and package-qualified `{{ pkg.m(...) }}`. The engine installs
        * package-precedence resolution here (reference
        * `manifest.py:660-730`); default = no macros.
        */
      macroResolver: String => Option[MacroDef] = _ => None,
      /** `run_query(sql)` hook (reference run_query context member):
        * returns (column names, rows as typed template values). The
        * engine installs a Spark-backed runner; None = run_query
        * unavailable (parse-only contexts).
        */
      queryRunner: Option[String => (Seq[String], Seq[Seq[Jinja.JV]])] = None,
      /** adapter.<method>(args) dispatcher for metadata methods —
        * get_columns_in_relation et al. (reference adapter wrapper,
        * `core/dbt/context/providers.py:215-380`). `dispatch` is
        * handled by the engine grammar itself; everything else lands
        * here. None = no adapter metadata available.
        */
      adapterApi: Option[(String, Seq[Jinja.JV], Map[String, Jinja.JV]) => Jinja.JV] = None,
      /** `{% include %}` / `{% extends %}` source loader: relative
        * template path → source text. The engine installs a
        * project-dir-rooted file loader; None = inheritance/include
        * unavailable (parse-only contexts).
        */
      templateLoader: Option[String => Option[String]] = None,
      /** `flags.*` context values (reference `base.py:655-668`) —
        * TYPED, because `{% if flags.FULL_REFRESH %}` must see a real
        * boolean; merged over the defaults the renderer provides.
        */
      flags: Map[String, Jinja.JV] = Map.empty,
      /** Rich context values resolved by bare name after locals and
        * before string builtins — `graph`, `model`,
        * `invocation_args_dict`, `defer_relation`, the seed context's
        * agate table (reference providers.py contextproperties). The
        * engine installs them; empty in parse-only contexts.
        */
      typedValues: Map[String, Jinja.JV] = Map.empty,
      /** Wraps a resolved flat relation name into the typed relation
        * value `ref`/`source`/`this` yield (reference: resolvers
        * return BaseRelation objects, providers.py:498-583). Default
        * keeps plain strings, so contexts built without an engine
        * (unit specs, parse-only renders) behave exactly as before.
        */
      relationFor: String => Jinja.JV = Jinja.JS(_),
      /** `store_result`/`store_raw_result` sink: (slot, fields) →
        * persisted into the node's result registry so a later
        * `load_result` in the SAME render (or a post-hook) sees it
        * (reference providers.py:869-911). None = context members
        * unavailable (parse-only contexts).
        */
      resultSink: Option[(String, Map[String, String]) => Unit] = None,
      /** Live result-slot lookup consulted by `load_result` BEFORE the
        * `results` snapshot — a slot stored mid-render via
        * `store_result` must be loadable in the same render.
        */
      resultLookup: Option[String => Option[Map[String, String]]] = None,
      /** TYPED vars — list/dict `vars:` entries that must survive into
        * `{% for r in var('regions') %}`. Scalars stay in the string
        * `vars` map (checked first, so unit-test overrides win).
        */
      typedVars: Map[String, Jinja.JV] = Map.empty,
      /** `config()` call sink: receives each call's evaluated kwargs.
        * Only the parse-time walk ([[Jinja.capture]]) installs one; a
        * render leaves it None and `config()` renders as "". */
      configSink: Option[Map[String, Jinja.JV] => Unit] = None,
      /** `env_var()` read sink: receives each name read. The parse-time
        * walk installs one (partial parsing re-walks a file when a
        * value it read changes); a render leaves it None. */
      envSink: Option[String => Unit] = None)
}
