package graft.render

import org.scalatest.funsuite.AnyFunSuite

/** The grown A25 surface (block Jinja engine): nested macros, package
  * qualification, filters, expression set, general if/for — acceptance
  * is byte-identical rendering of real macro bodies from the
  * reference's test fixtures (`tests/functional/macros/fixtures.py`)
  * and dbt_utils-style community macros.
  */
class JinjaSpec extends AnyFunSuite {

  private def macros(defs: String*): Map[String, Template.MacroDef] =
    defs.flatMap(Template.extractMacros).map(m => m.name -> m).toMap

  private def ctxWith(ms: Map[String, Template.MacroDef],
      pkgs: Map[String, Map[String, Template.MacroDef]] = Map.empty) =
    Template.Context(
      resolveRef = n => s"rel_$n",
      resolveSource = (a, b) => s"src_${a}_$b",
      thisRelation = "this_table",
      vars = Map("start" -> "2020-01-01"),
      macroResolver = name => name.split("\\.", 2) match {
        case Array(pkg, m) => pkgs.get(pkg).flatMap(_.get(m))
        case _ => ms.get(name)
      })

  private val ctx = ctxWith(Map.empty)

  // --- reference fixture macros (tests/functional/macros/fixtures.py) ---

  private val doSomething2 =
    """{% macro do_something2(foo2, bar2) %}
      |
      |    select
      |        '{{ foo2 }}' as foo2,
      |        '{{ bar2 }}' as bar2
      |
      |{% endmacro %}""".stripMargin

  private val withRef =
    """{% macro with_ref() %}
      |
      |    {{ ref('table_model') }}
      |
      |{% endmacro %}""".stripMargin

  test("a post_hook string holding {{ this }} renders through Jinja.render") {
    // the tag closes at the `}}` outside the string literal, and
    // config() renders as ""
    assert(Jinja.render(
      """{{ config(materialized='table', post_hook="grant select on {{ this }} to r") }}SELECT 1""",
      ctx) === "SELECT 1")
    assert(Jinja.render("""{{ "}}" ~ '{%' }}-{% set x = "%}" %}{{ x }}""", ctx) === "}}{%-%}")
  }

  test("{% raw %} emits literally: tags inside do not render") {
    // reference Jinja raw blocks (dbt docs use them to emit literal
    // curly syntax into SQL comments / external templates)
    assert(Jinja.render(
      "a {% raw %}{{ not_rendered }} {% if x %}kept{% endif %}{% endraw %} b", ctx)
      === "a {{ not_rendered }} {% if x %}kept{% endif %} b")
    // whitespace control on both fences
    assert(Jinja.render("a {%- raw -%}  lit  {%- endraw -%} b", ctx) === "alitb")
    // still-rendered context around the raw block
    assert(Jinja.render(
      "{% set v = 7 %}{{ v }}/{% raw %}{{ v }}{% endraw %}/{{ v }}", ctx)
      === "7/{{ v }}/7")
    // unterminated raw is a loud error, not silent swallowing
    assertThrows[IllegalArgumentException](
      Jinja.render("x {% raw %} no end", ctx))
  }

  test("namespace(): attribute set inside a loop is visible after it") {
    // Jinja2 namespace semantics (jinja2.utils.Namespace): plain set
    // rebinds the loop's inner scope, namespace attributes mutate the
    // shared object — the documented cross-iteration state carrier
    val out = Jinja.render(
      """{% set ns = namespace(found=false, total=0) %}
        |{% for x in [1, 2, 3] %}
        |{% if x == 2 %}{% set ns.found = true %}{% endif %}
        |{% set ns.total = ns.total + x %}
        |{% endfor %}
        |{{ ns.found }},{{ ns.total }}""".stripMargin, ctx)
    assert(out.trim.endsWith("true,6"))
  }

  test("namespace(): seeded kwargs read back; plain set stays scoped") {
    assert(Jinja.render(
      "{% set ns = namespace(a='x') %}{{ ns.a }}", ctx) === "x")
    // CONTRAST: a plain set inside the loop is NOT visible after it —
    // exactly the gap namespace() exists to fill
    val plain = Jinja.render(
      """{% set found = false %}
        |{% for x in [1, 2] %}{% set found = true %}{% endfor %}
        |{{ found }}""".stripMargin, ctx)
    assert(plain.trim.endsWith("false"))
  }

  test("namespace(): assignment on a non-namespace is a loud error") {
    assertThrows[IllegalArgumentException](Jinja.render(
      "{% set m = {'a': 1} %}{% set m.a = 2 %}", ctx))
    assertThrows[IllegalArgumentException](Jinja.render(
      "{% set nope.a = 2 %}", ctx))
  }

  test("custom filters: a project macro serves `| my_filter` pipelines") {
    // the hermetic analog of Jinja2 custom-filter registration: the
    // piped value arrives as the macro's first positional arg
    val c = ctxWith(macros(
      """{% macro wrapped(v, q="'") %}{{ q }}{{ v }}{{ q }}{% endmacro %}"""))
    assert(Jinja.render("""{{ 'abc' | wrapped }}""", c) === "'abc'")
    assert(Jinja.render("""{{ 'abc' | wrapped('"') }}""", c) === "\"abc\"")
    // unknown names still fail loudly
    assertThrows[IllegalArgumentException](
      Jinja.render("{{ 'abc' | no_such_filter }}", ctx))
  }

  test("macro varargs/kwargs introspection (jinja2 catch_varargs/kwargs)") {
    // extra positional args land in `varargs`, undeclared keyword args
    // in `kwargs` — but ONLY when the body references those names
    // (jinja2.runtime.Macro catch_varargs/catch_kwargs are
    // body-dependent); a macro that never reads them raises a
    // TypeError on extras (ADVICE r13: a typo'd kwarg must not
    // silently vanish)
    val c = ctxWith(macros(
      """{% macro fmt(first) %}{{ first }}|{{ varargs | join(',') }}|{{ kwargs['x'] }}{% endmacro %}"""))
    assert(Jinja.render("{{ fmt('a', 'b', 'c', x='z') }}", c) === "a|b,c|z")
    val c2 = ctxWith(macros("""{% macro ident(v) %}{{ v }}{% endmacro %}"""))
    val ePos = intercept[IllegalArgumentException] {
      Jinja.render("{{ ident(1, 2, 3) }}", c2)
    }
    assert(ePos.getMessage.contains("at most 1 positional"))
    val eKw = intercept[IllegalArgumentException] {
      Jinja.render("{{ ident(1, junk='y') }}", c2)
    }
    assert(eKw.getMessage.contains("unexpected keyword argument"))
    assert(eKw.getMessage.contains("junk"))
    // a declared kwarg is of course still fine
    assert(Jinja.render("{{ ident(v=7) }}", c2) === "7")
    // empty when nothing extra is passed
    val c3 = ctxWith(macros(
      """{% macro probe(a) %}{{ varargs | length }}:{{ kwargs | length }}{% endmacro %}"""))
    assert(Jinja.render("{{ probe(1) }}", c3) === "0:0")
    // catching one of the two names does not excuse extras of the other
    val c4 = ctxWith(macros(
      """{% macro vonly(a) %}{{ varargs | length }}{% endmacro %}"""))
    assert(Jinja.render("{{ vonly(1, 2, 3) }}", c4) === "2")
    val eK4 = intercept[IllegalArgumentException] {
      Jinja.render("{{ vonly(1, oops=1) }}", c4)
    }
    assert(eK4.getMessage.contains("unexpected keyword argument"))
  }

  test("custom tests: a project macro serves `is my_test` predicates") {
    // the symmetric twin of custom filters (VERDICT r12 item 5): the
    // tested value arrives as the macro's first positional arg, extra
    // args bind behind it, and `is not` negates as usual
    val c = ctxWith(macros(
      """{% macro allowed(v, extra=[]) %}{{ return(v in ['id','amount'] + extra) }}{% endmacro %}
        |{% macro multiple_of(v, k) %}{{ return(v % k == 0) }}{% endmacro %}
        |{% macro spelled(v) %}{% if v > 0 %}true{% else %}false{% endif %}{% endmacro %}"""
        .stripMargin))
    assert(Jinja.render(
      "{% if 'amount' is allowed %}y{% else %}n{% endif %}", c) === "y")
    assert(Jinja.render(
      "{% if 'secret' is allowed %}y{% else %}n{% endif %}", c) === "n")
    assert(Jinja.render(
      "{% if 'secret' is allowed(['secret']) %}y{% else %}n{% endif %}", c) === "y")
    assert(Jinja.render(
      "{% if 4 is multiple_of(2) %}y{% else %}n{% endif %}", c) === "y")
    assert(Jinja.render(
      "{% if 3 is not multiple_of(2) %}odd{% else %}even{% endif %}", c) === "odd")
    // a macro body that RENDERS the text true/false (no return()) still
    // reads as the boolean it spells — truthy(JS("false")) would
    // otherwise read spelled-out false as true
    assert(Jinja.render(
      "{% if 5 is spelled %}pos{% else %}nonpos{% endif %}", c) === "pos")
    assert(Jinja.render(
      "{% if 0 is spelled %}pos{% else %}nonpos{% endif %}", c) === "nonpos")
    // builtin tests keep precedence; unknown names still fail loudly
    assert(Jinja.render(
      "{% if 3 is odd %}y{% else %}n{% endif %}", c) === "y")
    assertThrows[IllegalArgumentException](
      Jinja.render("{% if 1 is no_such_test %}y{% endif %}", ctx))
  }

  test("reference models__local_macro: macro call in model body") {
    val c = ctxWith(macros(doSomething2))
    val out = Jinja.render("""{{
                                |    do_something2("arg1", "arg2")
                                |}}""".stripMargin, c)
    assert(out ===
      """select
        |        'arg1' as foo2,
        |        'arg2' as bar2""".stripMargin)
  }

  test("reference models__local_macro: package-qualified call") {
    val c = ctxWith(Map.empty,
      pkgs = Map("test" -> macros(doSomething2)))
    val out = Jinja.render("""{{ test.do_something2("arg3", "arg4") }}""", c)
    assert(out.contains("'arg3' as foo2") && out.contains("'arg4' as bar2"))
  }

  test("reference models__ref_macro: macro body resolves ref()") {
    val c = ctxWith(macros(withRef))
    assert(Jinja.render("select * from {{ with_ref() }}", c)
      === "select * from rel_table_model")
  }

  // --- dbt_utils-style community macros ---

  test("dbt_utils group_by(n): range loop with separator") {
    val groupBy =
      """{% macro group_by(n) %}group by {% for i in range(1, n + 1) %}{{ i }}{% if not loop.last %},{% endif %}{% endfor %}{% endmacro %}"""
    val c = ctxWith(macros(groupBy))
    assert(Jinja.render("SELECT a, b, count(*) FROM t {{ group_by(2) }}", c)
      === "SELECT a, b, count(*) FROM t group by 1,2")
  }

  test("dbt_utils safe_divide: nested macro calls") {
    val defs =
      """{% macro safe_divide(numerator, denominator) %}( {{ numerator }} ) / nullif( ( {{ denominator }} ), 0){% endmacro %}
        |{% macro pct(a, b) %}100.0 * {{ safe_divide(a, b) }}{% endmacro %}""".stripMargin
    val c = ctxWith(macros(defs))
    assert(Jinja.render("SELECT {{ pct('x', 'y') }} AS p FROM t", c)
      === "SELECT 100.0 * ( x ) / nullif( ( y ), 0) AS p FROM t")
  }

  test("macro default args and kwargs") {
    val m = """{% macro lim(n=10) %}LIMIT {{ n }}{% endmacro %}"""
    val c = ctxWith(macros(m))
    assert(Jinja.render("SELECT * FROM t {{ lim() }}", c) === "SELECT * FROM t LIMIT 10")
    assert(Jinja.render("SELECT * FROM t {{ lim(5) }}", c) === "SELECT * FROM t LIMIT 5")
    assert(Jinja.render("SELECT * FROM t {{ lim(n=7) }}", c) === "SELECT * FROM t LIMIT 7")
  }

  test("macro defaults with commas inside list/call literals") {
    val defs =
      """{% macro cols(xs=['a', 'b', 'c'], sep=', ') %}{{ xs | join(sep) }}{% endmacro %}
        |{% macro wrap(v=cols(['x', 'y'])) %}({{ v }}){% endmacro %}""".stripMargin
    val c = ctxWith(macros(defs))
    assert(Jinja.render("SELECT {{ cols() }} FROM t", c) === "SELECT a, b, c FROM t")
    assert(Jinja.render("SELECT {{ cols(['q', 'r'], '|') }} FROM t", c)
      === "SELECT q|r FROM t")
    assert(Jinja.render("{{ wrap() }}", c) === "(x, y)")
  }

  // --- filters ---

  test("filters: join / lower / upper / replace / default / length") {
    assert(Jinja.render("{{ ['a', 'b', 'c'] | join(', ') }}", ctx) === "a, b, c")
    assert(Jinja.render("{{ 'AbC' | lower }}", ctx) === "abc")
    assert(Jinja.render("{{ 'AbC' | upper }}", ctx) === "ABC")
    assert(Jinja.render("{{ 'a-b' | replace('-', '_') }}", ctx) === "a_b")
    assert(Jinja.render("{{ nope | default('fallback') }}", ctx) === "fallback")
    assert(Jinja.render("{{ var('start') | default('x') }}", ctx) === "2020-01-01")
    assert(Jinja.render("{{ ['a', 'b'] | length }}", ctx) === "2")
    assert(Jinja.render("{{ ['b', 'a', 'b'] | unique | sort | join('') }}", ctx) === "ab")
  }

  test("filter chain inside set and for") {
    val sql =
      """{% set cols = 'ID,Name,Email'.split(',') %}
        |SELECT {% for c in cols %}{{ c | lower }}{% if not loop.last %}, {% endif %}{% endfor %} FROM t""".stripMargin
    assert(Jinja.render(sql, ctx) === "SELECT id, name, email FROM t")
  }

  // --- expressions / statements ---

  test("general if / elif / else with comparisons") {
    val sql = "{% if var('start') == '2020-01-01' %}A{% elif var('start') > '2019' %}B{% else %}C{% endif %}"
    assert(Jinja.render(sql, ctx) === "A")
    assert(Jinja.render(
      "{% if 2 > 3 %}A{% elif 2 > 1 %}B{% else %}C{% endif %}", ctx) === "B")
    assert(Jinja.render(
      "{% if 2 > 3 %}A{% elif 2 > 5 %}B{% else %}C{% endif %}", ctx) === "C")
  }

  test("nested for and if blocks") {
    val sql =
      "{% for a in ['x', 'y'] %}{% for b in [1, 2] %}{% if b == 2 %}{{ a }}{{ b }};{% endif %}{% endfor %}{% endfor %}"
    assert(Jinja.render(sql, ctx) === "x2;y2;")
  }

  test("expression set: lists, arithmetic, method calls") {
    assert(Jinja.render(
      "{% set xs = ['a'] + ['b'] %}{{ xs | join('-') }}", ctx) === "a-b")
    assert(Jinja.render("{% set n = 3 * 4 + 1 %}{{ n }}", ctx) === "13")
    assert(Jinja.render(
      "{% set s = ' pad '.strip() %}[{{ s }}]", ctx) === "[pad]")
    assert(Jinja.render(
      "{% set parts = 'a.b.c'.split('.') %}{{ parts[1] }}", ctx) === "b")
  }

  test("in / not in, is defined / is none, boolean ops") {
    assert(Jinja.render("{% if 'a' in ['a', 'b'] %}Y{% endif %}", ctx) === "Y")
    assert(Jinja.render("{% if 'z' not in ['a', 'b'] %}Y{% endif %}", ctx) === "Y")
    assert(Jinja.render("{% if nope is defined %}Y{% else %}N{% endif %}", ctx) === "N")
    assert(Jinja.render("{% set x = 1 %}{% if x is defined %}Y{% endif %}", ctx) === "Y")
    assert(Jinja.render(
      "{% if true and not false or false %}Y{% endif %}", ctx) === "Y")
  }

  test("type tests: mapping/sequence/boolean/integer/float/odd/even/divisibleby") {
    def t(src: String) = Jinja.render(s"{% if $src %}Y{% else %}N{% endif %}", ctx)
    assert(t("{'a': 1} is mapping") === "Y")
    assert(t("[1, 2] is mapping") === "N")
    assert(t("[1, 2] is sequence") === "Y")
    assert(t("'ab' is iterable") === "Y")
    assert(t("1 is iterable") === "N")
    assert(t("true is boolean") === "Y")
    assert(t("1 is integer") === "Y")
    assert(t("1.5 is integer") === "N")
    assert(t("1.5 is float") === "Y")
    assert(t("3 is odd") === "Y")
    assert(t("4 is even") === "Y")
    assert(t("9 is divisibleby(3)") === "Y")
    assert(t("10 is not divisibleby(3)") === "Y")
  }

  test("whitespace control and comments") {
    assert(Jinja.render("a  {#- note -#}  b", ctx) === "a  b".replace("  ", "")
      || Jinja.render("a {# note #} b", ctx) === "a  b")
    assert(Jinja.render("x\n  {%- if true %}y{% endif %}", ctx) === "xy")
    assert(Jinja.render("{# gone #}SELECT 1", ctx) === "SELECT 1")
  }

  test("int/float rendering and division") {
    assert(Jinja.render("{{ 10 }}", ctx) === "10")
    assert(Jinja.render("{{ 10.5 }}", ctx) === "10.5")
    assert(Jinja.render("{{ 7 // 2 }}", ctx) === "3")
    assert(Jinja.render("{{ 1 / 2 }}", ctx) === "0.5")
    assert(Jinja.render("{{ 10 % 3 }}", ctx) === "1")
  }

  test("unresolved names and calls render verbatim") {
    assert(Jinja.render("SELECT {{ mystery_col }} FROM t", ctx)
      === "SELECT {{ mystery_col }} FROM t")
    // call blocks and macro defs pass through untouched for the
    // segmentation/extraction layers
    val call = "{% call statement('x', fetch_result=true) %}SELECT 1{% endcall %}"
    assert(Jinja.render(call, ctx) === call)
  }

  test("do statement evaluates for side effects only") {
    assert(Jinja.render("{% do log('hi') %}SELECT 1", ctx) === "SELECT 1")
  }

  test("macro recursion is bounded") {
    val m = """{% macro loop_forever() %}{{ loop_forever() }}{% endmacro %}"""
    val c = ctxWith(macros(m))
    assertThrows[IllegalArgumentException](
      Jinja.render("{{ loop_forever() }}", c))
  }

  // --- run_query / return / dispatch / block set (dynamic SQL) ---

  /** The dbt docs' canonical run_query macro, body VERBATIM — block
    * set, run_query, execute flag, `.columns[0].values()`, return().
    */
  private val getPaymentMethods =
    """{% macro get_payment_methods() %}
      |{% set payment_methods_query %}
      |select distinct payment_method from app_data.payments order by 1
      |{% endset %}
      |{% set results = run_query(payment_methods_query) %}
      |{% if execute %}
      |{% set results_list = results.columns[0].values() %}
      |{% else %}
      |{% set results_list = [] %}
      |{% endif %}
      |{{ return(results_list) }}
      |{% endmacro %}""".stripMargin

  private def fakeRunner(expectSql: String, cols: Seq[String],
      rows: Seq[Seq[Jinja.JV]]): Option[String => (Seq[String], Seq[Seq[Jinja.JV]])] =
    Some { sql =>
      assert(sql.trim === expectSql, s"unexpected run_query sql: $sql")
      (cols, rows)
    }

  test("dbt docs get_payment_methods macro runs verbatim") {
    val c = ctxWith(macros(getPaymentMethods)).copy(
      queryRunner = fakeRunner(
        "select distinct payment_method from app_data.payments order by 1",
        Seq("payment_method"),
        Seq(Seq(Jinja.JS("bank_transfer")), Seq(Jinja.JS("credit_card")))))
    // returned LIST feeds a for-loop — the pivot-column use case
    val sql =
      """select
        |{% for m in get_payment_methods() %}  sum(case when payment_method = '{{ m }}' then amount end) as {{ m }}_amount{% if not loop.last %},
        |{% endif %}{% endfor %}
        |from app_data.payments""".stripMargin
    val out = Jinja.render(sql, c)
    assert(out.contains("as bank_transfer_amount,"))
    assert(out.contains("as credit_card_amount"))
    assert(!out.contains("{%"))
  }

  test("adapter.dispatch resolves spark__ over default__ and is callable") {
    val defs =
      """{% macro concat_ws_like(a, b) %}{{ return(adapter.dispatch('concat_ws_like')(a, b)) }}{% endmacro %}
        |{% macro default__concat_ws_like(a, b) %}{{ a }} || {{ b }}{% endmacro %}
        |{% macro spark__concat_ws_like(a, b) %}concat({{ a }}, {{ b }}){% endmacro %}""".stripMargin
    val c = ctxWith(macros(defs))
    assert(Jinja.render("SELECT {{ concat_ws_like('x', 'y') }}", c)
      === "SELECT concat(x, y)")
    // without a spark__ impl the default__ chain resolves
    val defaultOnly =
      """{% macro only_def(a) %}{{ return(adapter.dispatch('only_def')(a)) }}{% endmacro %}
        |{% macro default__only_def(a) %}D:{{ a }}{% endmacro %}""".stripMargin
    val c2 = ctxWith(macros(defaultOnly))
    assert(Jinja.render("{{ only_def('q') }}", c2) === "D:q")
  }

  test("dispatched macro value can be held in a set variable") {
    val defs =
      """{% macro default__impl() %}IMPL{% endmacro %}""".stripMargin
    val c = ctxWith(macros(defs))
    assert(Jinja.render(
      "{% set m = adapter.dispatch('impl') %}{{ m() }}", c) === "IMPL")
  }

  test("exceptions.raise_compiler_error throws; warn does not") {
    val e = intercept[IllegalArgumentException](
      Jinja.render("{% do exceptions.raise_compiler_error('bad model') %}", ctx))
    assert(e.getMessage.contains("bad model"))
    assert(Jinja.render("{% do exceptions.warn('heads up') %}ok", ctx) === "ok")
  }

  test("return() outside any macro surfaces as an error") {
    assertThrows[Jinja.MacroReturn](Jinja.render("{{ return(1) }}", ctx))
  }

  /** dbt_utils `star` in its real shape: dispatch + column metadata +
    * list accumulation via `do append` + map filter + list default.
    */
  test("dbt_utils star macro shape: adapter columns, do-append, map filter") {
    val starDefs =
      """{% macro star(from, except=[]) %}{{ return(adapter.dispatch('star')(from, except)) }}{% endmacro %}
        |{% macro default__star(from, except=[]) %}
        |{%- set include_cols = [] -%}
        |{%- set cols = adapter.get_columns_in_relation(from) -%}
        |{%- set except_lower = except | map("lower") | list -%}
        |{%- for col in cols -%}
        |{%- if col.column | lower not in except_lower -%}
        |{%- do include_cols.append(col.column) -%}
        |{%- endif -%}
        |{%- endfor -%}
        |{{ return(include_cols | join(', ')) }}
        |{% endmacro %}""".stripMargin
    val fakeAdapter: (String, Seq[Jinja.JV], Map[String, Jinja.JV]) => Jinja.JV = {
      case ("get_columns_in_relation", Seq(rel), _) if Jinja.show(rel) == "rel_stg" =>
        Jinja.jlist(Seq("Id", "Name", "Secret").map(n =>
          Jinja.JM(Map("column" -> Jinja.JS(n), "name" -> Jinja.JS(n)))))
      case (m, a, k) => fail(s"unexpected adapter call $m($a, $k)")
    }
    val c = ctxWith(macros(starDefs)).copy(adapterApi = Some(fakeAdapter))
    assert(Jinja.render(
      "SELECT {{ star(ref('stg'), except=['secret']) }} FROM {{ ref('stg') }}", c)
      === "SELECT Id, Name FROM rel_stg")
    // no except → all columns
    assert(Jinja.render("SELECT {{ star(ref('stg')) }}", c)
      === "SELECT Id, Name, Secret")
  }

  test("list mutation via do append is visible through the holding var") {
    assert(Jinja.render(
      "{% set xs = [] %}{% do xs.append('a') %}{% do xs.append('b') %}{{ xs | join('-') }}",
      ctx) === "a-b")
    assert(Jinja.render(
      "{% set xs = [1] %}{% do xs.extend([2, 3]) %}{{ xs | sum }}", ctx) === "6")
  }

  test("target dict drives conditionals — the dev-limit community idiom") {
    val c = ctx.copy(builtins = Map(
      "target.name" -> "dev", "target.schema" -> "dev_s",
      "target.threads" -> "3"))
    // {% if target.name == 'dev' %} LIMIT ... — the single most common
    // target use in real projects (docs "limit data in development")
    assert(Jinja.render(
      "SELECT * FROM t {% if target.name == 'dev' %}LIMIT 100{% endif %}", c)
      === "SELECT * FROM t LIMIT 100")
    assert(Jinja.render(
      "SELECT * FROM t {% if target.name == 'prod' %}LIMIT 100{% endif %}", c)
      .trim === "SELECT * FROM t")
    // members read as values and compare as numbers
    assert(Jinja.render(
      "{{ target.schema }}:{% if target.threads | int > 2 %}par{% else %}seq{% endif %}",
      c) === "dev_s:par")
  }

  // --- include / template inheritance ---

  private def ctxWithTemplates(files: Map[String, String]) =
    ctx.copy(templateLoader = Some(files.get))

  test("include renders inline with the current context") {
    val c = ctxWithTemplates(Map(
      "shared/filters.sql" -> "WHERE x > {{ var('start') }}"))
    assert(Jinja.render(
      "SELECT * FROM {{ ref('a') }} {% include 'shared/filters.sql' %}", c)
      === "SELECT * FROM rel_a WHERE x > 2020-01-01")
  }

  test("include ignore missing renders nothing; plain include errors") {
    val c = ctxWithTemplates(Map.empty)
    assert(Jinja.render(
      "A{% include 'nope.sql' ignore missing %}B", c) === "AB")
    intercept[IllegalArgumentException] {
      Jinja.render("{% include 'nope.sql' %}", c)
    }
  }

  test("extends: child block overrides the parent's, defaults remain") {
    val c = ctxWithTemplates(Map(
      "base.sql" ->
        "SELECT {% block cols %}*{% endblock %} FROM {% block rel %}t{% endblock %}"))
    assert(Jinja.render(
      "{% extends 'base.sql' %}{% block cols %}a, b{% endblock %}", c)
      === "SELECT a, b FROM t")
  }

  test("extends chains: grandchild wins over child over base") {
    val c = ctxWithTemplates(Map(
      "base.sql" -> "[{% block x %}base{% endblock %}|{% block y %}base{% endblock %}]",
      "mid.sql" -> "{% extends 'base.sql' %}{% block x %}mid{% endblock %}{% block y %}mid{% endblock %}"))
    assert(Jinja.render(
      "{% extends 'mid.sql' %}{% block y %}leaf{% endblock %}", c)
      === "[mid|leaf]")
  }

  test("blocks without extends render their own bodies in place") {
    assert(Jinja.render(
      "A {% block b %}{{ ref('m') }}{% endblock %} C", ctx) === "A rel_m C")
  }

  test("super() renders the overridden parent body in place") {
    val c = ctxWithTemplates(Map(
      "base.sql" -> "{% block b %}WHERE x > 0{% endblock %}"))
    assert(Jinja.render(
      "{% extends 'base.sql' %}{% block b %}{{ super() }} AND y = 1{% endblock %}", c)
      === "WHERE x > 0 AND y = 1")
  }

  test("super() chains through multi-level inheritance") {
    val c = ctxWithTemplates(Map(
      "base.sql" -> "{% block b %}base{% endblock %}",
      "mid.sql" -> "{% extends 'base.sql' %}{% block b %}({{ super() }})+mid{% endblock %}"))
    assert(Jinja.render(
      "{% extends 'mid.sql' %}{% block b %}{{ super() }}+leaf{% endblock %}", c)
      === "(base)+mid+leaf")
  }

  test("extends: a block nested under {% if %}/{% for %} in the child still overrides") {
    // Jinja registers blocks wherever they appear, so a child block
    // wrapped in control flow must override the parent's slot
    val c = ctxWithTemplates(Map(
      "base.sql" -> "SELECT {% block cols %}*{% endblock %} FROM {% block rel %}t{% endblock %}"))
    assert(Jinja.render(
      "{% extends 'base.sql' %}{% if true %}{% block cols %}a, b{% endblock %}{% endif %}" +
        "{% for i in [1] %}{% block rel %}u{% endblock %}{% endfor %}", c)
      === "SELECT a, b FROM u")
  }

  test("extends: a block nested inside another child block overrides both slots") {
    val c = ctxWithTemplates(Map(
      "base.sql" -> "[{% block a %}A{% endblock %}|{% block b %}B{% endblock %}]"))
    assert(Jinja.render(
      "{% extends 'base.sql' %}{% block a %}X{% block b %}Y{% endblock %}{% endblock %}", c)
      === "[XY|Y]")
  }

  test("included templates may themselves extend") {
    val c = ctxWithTemplates(Map(
      "base.sql" -> "({% block b %}0{% endblock %})",
      "leaf.sql" -> "{% extends 'base.sql' %}{% block b %}1{% endblock %}"))
    assert(Jinja.render("X{% include 'leaf.sql' %}Y", c) === "X(1)Y")
  }

  // --- {% import %} / {% from %} macro namespaces ---

  private val helperLib = Map(
    "snippets/helpers.sql" ->
      """{% macro quote_ident(c) %}`{{ c }}`{% endmacro %}
        |{% macro pick(c, alias='') %}{{ quote_ident(c) }}{% if alias %} AS {{ alias }}{% endif %}{% endmacro %}
        |""".stripMargin)

  test("import binds a macro namespace; ns.macro(...) calls through it") {
    val c = ctxWithTemplates(helperLib)
    assert(Jinja.render(
      "{% import 'snippets/helpers.sql' as h %}SELECT {{ h.quote_ident('a') }}", c)
      === "SELECT `a`")
  }

  test("imported macros resolve siblings from their own file, not the project") {
    // pick() calls quote_ident() — registered nowhere project-wide,
    // only in the imported file's namespace
    val c = ctxWithTemplates(helperLib)
    assert(Jinja.render(
      "{% import 'snippets/helpers.sql' as h %}" +
        "SELECT {{ h.pick('x', alias='y') }}", c)
      === "SELECT `x` AS y")
  }

  test("from-import binds selected macros, with aliasing and kwargs") {
    val c = ctxWithTemplates(helperLib)
    assert(Jinja.render(
      "{% from 'snippets/helpers.sql' import pick as p, quote_ident %}" +
        "SELECT {{ p('a') }}, {{ quote_ident('b') }}", c)
      === "SELECT `a`, `b`")
  }

  test("from-import of a missing macro and a missing template both error") {
    val c = ctxWithTemplates(helperLib)
    intercept[IllegalArgumentException] {
      Jinja.render("{% from 'snippets/helpers.sql' import nope %}", c)
    }
    intercept[IllegalArgumentException] {
      Jinja.render("{% import 'missing.sql' as m %}", c)
    }
  }

  test("with/without context modifiers are accepted") {
    val c = ctxWithTemplates(helperLib)
    assert(Jinja.render(
      "{% import 'snippets/helpers.sql' as h with context %}{{ h.quote_ident('z') }}", c)
      === "`z`")
    assert(Jinja.render(
      "{% from 'snippets/helpers.sql' import quote_ident without context %}{{ quote_ident('z') }}", c)
      === "`z`")
  }

  // --- {% filter %} blocks ---

  test("filter block applies a single filter to its rendered body") {
    assert(Jinja.render(
      "{% filter upper %}select {{ ref('m') }}{% endfilter %}", ctx)
      === "SELECT REL_M")
  }

  test("filter block applies a chained, argumented filter pipeline") {
    assert(Jinja.render(
      "{% filter replace('x', 'y') | upper %}axbxc{% endfilter %}", ctx)
      === "AYBYC")
  }

  test("filter block body may contain control flow") {
    assert(Jinja.render(
      "{% filter trim | lower %} {% for i in [1, 2] %}A{{ i }} {% endfor %}{% endfilter %}",
      ctx) === "a1 a2")
  }

  // --- A26 context-builtin long tail (reference base.py:374-727) ---

  test("fromjson parses; default on failure (base.py:374-391)") {
    assert(Jinja.render(
      """{% set d = fromjson('{"abc": 123}') %}{{ d['abc'] }}""", ctx) === "123")
    assert(Jinja.render(
      "{{ fromjson('not json', 'fallback') }}", ctx) === "fallback")
  }

  test("tojson round-trips dicts/lists; sort_keys pins order") {
    assert(Jinja.render(
      """{% set d = {"b": 1, "a": [1, 2, true, none]} %}{{ tojson(d, sort_keys=true) }}""",
      ctx) === """{"a": [1, 2, true, null], "b": 1}""")
    assert(Jinja.render(
      """{{ fromjson(tojson({"x": 1.5}))['x'] }}""", ctx) === "1.5")
  }

  test("fromyaml parses block yaml; toyaml dumps block style") {
    assert(Jinja.render(
      "{% set y %}\ndogs:\n - good\n - bad\n{% endset %}" +
        "{% set d = fromyaml(y) %}{{ d['dogs'][0] }}/{{ d['dogs'][1] }}",
      ctx) === "good/bad")
    assert(Jinja.render(
      """{{ toyaml({"abc": 123}) }}""", ctx).trim === "abc: 123")
    assert(Jinja.render(
      "{{ fromyaml('] not yaml [', 'dflt') }}", ctx) === "dflt")
  }

  test("set dedups (insertion order); set_strict raises on non-iterable") {
    assert(Jinja.render(
      "{{ set([1, 2, 2, 3]) | list }}", ctx) === "[1, 2, 3]")
    assert(Jinja.render(
      "{{ set(12345, 'dflt') }}", ctx) === "dflt")
    intercept[Exception] {
      Jinja.render("{{ set_strict(12345) }}", ctx)
    }
  }

  test("zip pairs element-wise; zip_strict raises on non-iterable") {
    assert(Jinja.render(
      "{% for a, b in zip([1, 2], ['alice', 'bob']) %}{{ a }}={{ b }};{% endfor %}",
      ctx) === "1=alice;2=bob;")
    assert(Jinja.render("{{ zip([1], 'nope', default='d') }}", ctx) === "d")
    intercept[Exception] {
      Jinja.render("{{ zip_strict([1], 2) }}", ctx)
    }
  }

  test("diff_of_two_dicts: case-insensitive minus, keys keep dict_a case") {
    val out = Jinja.render(
      """{% set a = {"key_x": ["value_1", "VALUE_2"], "KEY_Y": ["value_3"]} %}
        |{% set b = {"key_x": ["value_1"], "key_z": ["value_4"]} %}
        |{{ tojson(diff_of_two_dicts(a, b), sort_keys=true) }}""".stripMargin, ctx).trim
    assert(out === """{"KEY_Y": ["value_3"], "key_x": ["VALUE_2"]}""")
  }

  test("flags: typed booleans with defaults") {
    assert(Jinja.render(
      "{% if flags.FULL_REFRESH %}drop{% else %}keep{% endif %}", ctx) === "keep")
    val ctx2 = ctx.copy(flags = Map("FULL_REFRESH" -> Jinja.JB(true)))
    assert(Jinja.render(
      "{% if flags.FULL_REFRESH %}drop{% else %}keep{% endif %}", ctx2) === "drop")
  }

  test("modules.re: match anchors at start; sub converts backrefs; findall") {
    assert(Jinja.render(
      "{{ modules.re.sub('(a+)b', '<\\1>', 'xaab aab') }}", ctx) === "x<aa> <aa>")
    assert(Jinja.render(
      "{% if modules.re.match('ab', 'abc') %}y{% else %}n{% endif %}", ctx) === "y")
    assert(Jinja.render(
      "{% if modules.re.match('bc', 'abc') %}y{% else %}n{% endif %}", ctx) === "n")
    assert(Jinja.render(
      "{{ modules.re.findall('[0-9]+', 'a1 b22 c333') | list }}",
      ctx) === "[1, 22, 333]")
  }

  test("modules.datetime: date construction, attrs, strftime, strptime") {
    assert(Jinja.render(
      "{% set d = modules.datetime.date(2002, 10, 27) %}{{ d.year }}/{{ d.isoformat() }}",
      ctx) === "2002/2002-10-27")
    assert(Jinja.render(
      "{% set d = modules.datetime.datetime(2002, 10, 27, 6, 0, 0) %}{{ d.strftime('%Y-%m-%d %H:%M') }}",
      ctx) === "2002-10-27 06:00")
    assert(Jinja.render(
      "{% set d = modules.datetime.datetime.strptime('2020-03-05', '%Y-%m-%d') %}{{ d.month }}",
      ctx) === "3")
  }

  test("modules.pytz: localize attaches zone; astimezone shifts the instant") {
    assert(Jinja.render(
      "{% set dt = modules.datetime.datetime(2002, 7, 1, 12, 0, 0) %}" +
        "{% set est = modules.pytz.timezone('America/New_York') %}" +
        "{{ dt.astimezone(est) }}",
      ctx) === "2002-07-01 08:00:00-04:00")
    assert(Jinja.render(
      "{% set dt = modules.datetime.datetime(2002, 7, 1, 12, 0, 0) %}" +
        "{{ modules.pytz.timezone('America/New_York').localize(dt) }}",
      ctx) === "2002-07-01 12:00:00-04:00")
    intercept[Exception] {
      Jinja.render("{{ modules.pytz.timezone('No/Such') }}", ctx)
    }
  }

  test("tojson nests; fromyaml nested maps; re.split/escape round-trip") {
    assert(Jinja.render(
      """{{ tojson({"a": {"b": [1, {"c": none}]}, "s": "q\"x"}, sort_keys=true) }}""",
      ctx) === """{"a": {"b": [1, {"c": null}]}, "s": "q\"x"}""")
    assert(Jinja.render(
      "{% set y %}\nouter:\n  inner:\n    k: 7\n  list: [a, b]\n{% endset %}" +
        "{% set d = fromyaml(y) %}{{ d['outer']['inner']['k'] }}/{{ d['outer']['list'][1] }}",
      ctx) === "7/b")
    assert(Jinja.render(
      "{{ modules.re.split(',', 'a,b,,c') | list }}", ctx) === "[a, b, , c]")
    // escape makes a literal safe to feed back into a regex call
    assert(Jinja.render(
      "{% if modules.re.match(modules.re.escape('a.b*'), 'a.b*c') %}y{% else %}n{% endif %}",
      ctx) === "y")
    assert(Jinja.render(
      "{% if modules.re.match(modules.re.escape('a.b*'), 'axbbc') %}y{% else %}n{% endif %}",
      ctx) === "n")
  }

  test("zip output feeds tojson as arrays; set over a string dedups chars") {
    assert(Jinja.render(
      "{{ tojson(zip([1, 2], ['x', 'y']) | list) }}", ctx) === """[[1, "x"], [2, "y"]]""")
    assert(Jinja.render(
      "{{ set('aabca') | list }}", ctx) === "[a, b, c]")
  }

  test("re.sub: literal $ and backslash in the replacement, like python") {
    // python: re.sub('a', '$5', 'xa') == 'x$5' — java Matcher would
    // read $5 as a group ref and throw without escaping
    assert(Jinja.render(
      "{{ modules.re.sub('a', '$5', 'xa') }}", ctx) === "x$5")
    assert(Jinja.render(
      "{{ modules.re.sub('(a+)b', 'US$\\1', 'xaab') }}", ctx) === "xUS$aa")
    // \\ in the replacement = one literal backslash (python semantics)
    assert(Jinja.render(
      """{{ modules.re.sub('a', '\\', 'xa') }}""", ctx) === "x\\")
  }

  test("re.escape: python 3.7+ special set only — @ / : ! pass through") {
    assert(Jinja.render(
      "{{ modules.re.escape('user@host/p:1!') }}", ctx) === "user@host/p:1!")
    assert(Jinja.render(
      "{{ modules.re.escape('a.b*c') }}", ctx) === "a\\.b\\*c")
    // '-' and '#' and space ARE in python's escape set
    assert(Jinja.render(
      "{{ modules.re.escape('a-b #c') }}", ctx) === "a\\-b\\ \\#c")
  }

  test("set: typed dedup — 1 vs '1' stay distinct; True==1 collapses (python)") {
    assert(Jinja.render(
      """{{ set([1, "1", 1]) | list }}""", ctx) === "[1, 1]")
    assert(Jinja.render(
      "{{ set([true, 1, 1.0, 2]) | list }}", ctx) === "[true, 2]")
    assert(Jinja.render(
      """{{ set(["true", true]) | list }}""", ctx) === "[true, true]")
  }

  // --- relation values (reference BaseRelation, relation.py) ---

  private val relCtx = ctx.copy(relationFor = n =>
    if (n.isEmpty) Jinja.JS("")
    else Jinja.JRel(n, "main_schema",
      if (n == "rel_built") Some("table") else None))

  test("ref/source/this yield relation values; interpolation unchanged") {
    assert(Jinja.render(
      "SELECT * FROM {{ ref('a') }} JOIN {{ source('s', 't') }} ON 1=1",
      relCtx) === "SELECT * FROM rel_a JOIN src_s_t ON 1=1")
    assert(Jinja.render("{{ this }}", relCtx) === "this_table")
  }

  test("relation attributes: identifier/schema/database/type/is_table") {
    assert(Jinja.render("{{ ref('a').identifier }}", relCtx) === "rel_a")
    assert(Jinja.render("{{ this.schema }}", relCtx) === "main_schema")
    // spark include-policy: database is none → renders empty, is none
    assert(Jinja.render(
      "{% if this.database is none %}nodb{% endif %}", relCtx) === "nodb")
    assert(Jinja.render("{{ ref('built').type }}", relCtx) === "table")
    assert(Jinja.render(
      "{% if ref('built').is_table %}t{% endif %}", relCtx) === "t")
    assert(Jinja.render(
      "{% if not ref('a').is_view %}notview{% endif %}", relCtx) === "notview")
  }

  test("relation methods: render/include/incorporate/replace_path/get") {
    assert(Jinja.render("{{ this.render() }}", relCtx) === "this_table")
    assert(Jinja.render(
      "{{ this.include(database=false) }}", relCtx) === "this_table")
    assert(Jinja.render(
      "{{ ref('a').incorporate(type='view').type }}", relCtx) === "view")
    assert(Jinja.render(
      "{{ this.replace_path(identifier='other').identifier }}", relCtx)
      === "other")
    assert(Jinja.render(
      "{{ this.get('schema') }}", relCtx) === "main_schema")
    assert(Jinja.render(
      "{{ this.get('nope', 'fallback') }}", relCtx) === "fallback")
  }

  test("relation values compare and concatenate like their rendered name") {
    assert(Jinja.render(
      "{% if ref('a') == 'rel_a' %}eq{% endif %}", relCtx) === "eq")
    assert(Jinja.render("{{ ref('a') ~ '__bak' }}", relCtx) === "rel_a__bak")
    // set-held relation keeps the attribute surface
    assert(Jinja.render(
      "{% set r = ref('built') %}{{ r.identifier }}:{{ r.type }}", relCtx)
      === "rel_built:table")
  }

  // --- new context members (providers.py) ---

  test("try_or_compiler_error: success passes through, failure rewraps") {
    val ms = macros(
      "{% macro ok(x) %}{{ return(x * 2) }}{% endmacro %}",
      "{% macro boom() %}{{ 1 // 0 }}{% endmacro %}")
    val c = ctxWith(ms)
    assert(Jinja.render(
      "{% set m = ok %}{{ try_or_compiler_error('nope', m, 21) }}", c) === "42")
    val e = intercept[IllegalArgumentException](Jinja.render(
      "{% set m = boom %}{{ try_or_compiler_error('custom msg', m) }}", c))
    assert(e.getMessage.contains("custom msg"))
  }

  test("store_result/store_raw_result write through the sink; load_result sees them live") {
    val slots = scala.collection.mutable.Map[String, Map[String, String]]()
    val c = ctx.copy(
      resultSink = Some((slot, fields) => slots(slot) = fields),
      resultLookup = Some(slots.get))
    assert(Jinja.render(
      "{% do store_raw_result('probe', message='done', code='OK', rows_affected='7') %}" +
        "{{ load_result('probe').rows_affected }}", c) === "7")
    assert(slots("probe")("message") === "done")
    assert(slots("probe")("status") === "SUCCESS")
    // plain store_result: second positional is the response message
    assert(Jinja.render(
      "{% do store_result('r2', 'all good') %}{{ load_result('r2').message }}",
      c) === "all good")
  }

  test("store_result without a sink is a loud error (parse-only contexts)") {
    val e = intercept[IllegalArgumentException](
      Jinja.render("{% do store_result('x', 'm') %}", ctx))
    assert(e.getMessage.contains("not available"))
  }

  test("sql_now / adapter_macro / dbt_metadata_envs") {
    assert(Jinja.render("{{ sql_now }}", ctx) === "current_timestamp()")
    val e = intercept[IllegalArgumentException](
      Jinja.render("{{ adapter_macro('x') }}", ctx))
    assert(e.getMessage.contains("deprecated"))
    assert(e.getMessage.contains("adapter.dispatch"))
    val c = ctx.copy(envOverrides = Map(
      "DBT_ENV_CUSTOM_ENV_team" -> "data", "PLAIN" -> "no"))
    assert(Jinja.render("{{ dbt_metadata_envs.team }}", c) === "data")
    assert(Jinja.render(
      "{% if 'PLAIN' not in dbt_metadata_envs %}clean{% endif %}", c) === "clean")
  }

  test("typedValues resolve by bare name after locals, before builtins") {
    val c = ctx.copy(
      typedValues = Map(
        "model" -> Jinja.JM(Map(
          "name" -> Jinja.JS("my_model"),
          "config" -> Jinja.JM(Map("materialized" -> Jinja.JS("table"))))),
        "defer_relation" -> Jinja.JNull),
      builtins = Map("model" -> "SHADOWED"))
    assert(Jinja.render("{{ model.name }}", c) === "my_model")
    assert(Jinja.render("{{ model.config.materialized }}", c) === "table")
    assert(Jinja.render(
      "{% if defer_relation is none %}nodefer{% endif %}", c) === "nodefer")
    // a local set still wins over the typed value
    assert(Jinja.render(
      "{% set model = 'local' %}{{ model }}", c) === "local")
  }

  test("render(): re-renders a string through the current context") {
    // jinja-in-a-string must arrive via a variable — a `{{ … }}`
    // literal inline would be cut at the first `}}` by the lexer,
    // exactly like Jinja2's
    assert(Jinja.render(
      """{% set s = "{{ ref('a') }}" %}{{ render(s) }}""", ctx) === "rel_a")
    assert(Jinja.render(
      """{% set s = "{{ var('start') }}-end" %}{{ render(s) }}""",
      ctx) === "2020-01-01-end")
  }

  test("api.Relation.create / api.Column factories") {
    assert(Jinja.render(
      "{% set r = api.Relation.create(database=none, schema='s', identifier='tbl', type='table') %}" +
        "{{ r }}:{{ r.schema }}:{{ r.type }}:{% if r.is_table %}T{% endif %}",
      ctx) === "tbl:s:table:T")
    assert(Jinja.render(
      "{% set c = api.Column.create('amount', 'bigint') %}{{ c.name }}:{{ c.dtype }}",
      ctx) === "amount:bigint")
    assert(Jinja.render(
      "{{ api.Column.translate_type('numeric') }}", ctx) === "decimal(28, 6)")
    assert(Jinja.render(
      "{{ api.Column.translate_type('string') }}", ctx) === "string")
  }

  test("load_agate_table: seed contexts only; rows iterate as dicts") {
    val e = intercept[IllegalArgumentException](
      Jinja.render("{{ load_agate_table() }}", ctx))
    assert(e.getMessage.contains("seed"))
    val c = ctx.copy(typedValues = Map("__agate_table" -> Jinja.JM(Map(
      "column_names" -> Jinja.jlist(Seq(Jinja.JS("id"), Jinja.JS("v"))),
      "rows" -> Jinja.jlist(Seq(
        Jinja.JM(Map("id" -> Jinja.JS("1"), "v" -> Jinja.JS("a"))),
        Jinja.JM(Map("id" -> Jinja.JS("2"), "v" -> Jinja.JS("b")))))))))
    assert(Jinja.render(
      "{% set t = load_agate_table() %}" +
        "{{ t.column_names | join(',') }}:" +
        "{% for r in t.rows %}{{ r.v }}{% endfor %}", c) === "id,v:ab")
  }

  test("toLiteral splits tag-terminator sequences so {% set %} stays well-formed (ADVICE r14)") {
    for (s <- Seq("100%}", "a{{b}}c", "x{%y", "pre#}post", "{{", "%}", "plain")) {
      val lit = Jinja.toLiteral(Jinja.JS(s))
      assert(Jinja.render(s"{% set m = $lit %}[{{ m }}]", ctx) === s"[$s]",
        s"round-trip failed for $s via $lit")
    }
    // nested inside lists and dict values too
    val lst = Jinja.toLiteral(Jinja.jlist(Seq(Jinja.JS("a%}b"), Jinja.JS("c"))))
    assert(Jinja.render(s"{% set m = $lst %}{{ m | join('/') }}", ctx) === "a%}b/c")
  }

  test("CrossDb builtins are call-only, not bare-name variables (ADVICE r14)") {
    // an engine-shaped resolver: user macros first, CrossDb fallback last
    val user = macros("{% macro date() %}userdate{% endmacro %}")
    val engineCtx = ctxWith(Map.empty).copy(
      macroResolver = n => CrossDb.macros.get(n))
    // bare names colliding with builtin macro names stay falsy/undefined
    // (jinja2: `{% if date %}` on an unset name takes the else branch)
    assert(Jinja.render(
      "{% if date %}T{% else %}F{% endif %}", engineCtx) === "F")
    assert(Jinja.render(
      "{% if length %}T{% else %}F{% endif %}", engineCtx) === "F")
    // call syntax still reaches the builtin
    assert(Jinja.render("{{ length('x') }}", engineCtx) === "length(x)")
    assert(Jinja.render("{{ replace('c', 'a', 'b') }}", engineCtx)
      === "replace(c, a, b)")
    // a USER macro with a colliding name IS a template-level name
    val userCtx = ctxWith(user).copy(
      macroResolver = n => user.get(n).orElse(CrossDb.macros.get(n)))
    assert(Jinja.render(
      "{% if date %}T{% else %}F{% endif %}", userCtx) === "T")
    assert(Jinja.render("{{ date() }}", userCtx) === "userdate")
  }
}
