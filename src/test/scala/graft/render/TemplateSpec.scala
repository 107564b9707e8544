package graft.render

import graft.parse.ProjectLoader
import org.scalatest.funsuite.AnyFunSuite

class TemplateSpec extends AnyFunSuite {

  private val ctx = Template.Context(
    resolveRef = n => s"rel_$n",
    resolveSource = (a, b) => s"src_${a}_$b",
    thisRelation = "this_table",
    vars = Map("start" -> "2020-01-01"))

  test("ref and source resolution") {
    assert(Jinja.render("SELECT * FROM {{ ref('stg') }} JOIN {{ source('main', 'orders') }}", ctx)
      === "SELECT * FROM rel_stg JOIN src_main_orders")
  }

  test("this and var with default") {
    assert(Jinja.render("DELETE FROM {{ this }} WHERE d > '{{ var('start') }}'", ctx)
      === "DELETE FROM this_table WHERE d > '2020-01-01'")
    assert(Jinja.render("{{ var('missing', 'dflt') }}", ctx) === "dflt")
    assertThrows[IllegalArgumentException](Jinja.render("{{ var('nope') }}", ctx))
  }

  test("is_incremental branches") {
    val sql = "SELECT * FROM t {% if is_incremental() %}WHERE ts > (SELECT max(ts) FROM {{ this }}){% endif %}"
    assert(Jinja.render(sql, ctx) === "SELECT * FROM t")
    assert(Jinja.render(sql, ctx.copy(isIncremental = true))
      === "SELECT * FROM t WHERE ts > (SELECT max(ts) FROM this_table)")
  }

  test("if/else branches") {
    val sql = "SELECT {% if is_incremental() %}1{% else %}2{% endif %} AS x"
    assert(Jinja.render(sql, ctx) === "SELECT 2 AS x")
    assert(Jinja.render(sql, ctx.copy(isIncremental = true)) === "SELECT 1 AS x")
  }

  test("config extraction and removal") {
    val sql = "{{ config(materialized='incremental', unique_key='id', tags=['a','b'], full_refresh=true) }}\nSELECT 1"
    // list values join on u0001 (items may contain commas — hook SQL)
    assert(ProjectLoader.configKwargs(Jinja.capture(sql)) === Map(
      "materialized" -> "incremental", "unique_key" -> "id",
      "tags" -> "a\u0001b", "full_refresh" -> "true"))
    assert(Jinja.render(sql, ctx) === "SELECT 1")
  }

  test("extract refs and sources at parse time") {
    val sql = "SELECT * FROM {{ ref('a') }}, {{ ref(\"b\") }}, {{ source('s', 't') }}, {{ ref('a') }}"
    val cap = Jinja.capture(sql)
    assert(cap.refs === Seq("a", "b"))
    assert(cap.sources === Seq(("s", "t")))
  }

  test("capture walks every branch and keeps refs evaluated before a throw") {
    val cap = Jinja.capture(
      """{% set up = ref('a') %}{% if execute %}{{ ref(var('v')) }}{% endif %}
        |{% for r in run_query('x').rows %}{{ ref('in_loop') }}{% endfor %}
        |{{ pkg.test_x(model=ref('m'), to=ref('p')) }}{{ run_query(ref('q')) }}
        |{{ config(post_hook="insert into {{ ref('log') }} select 1") }}
        |{{ config(materialized=var('mat', 'table')) }}{{ config(tags=['x']) }}""".stripMargin,
      ctx.copy(vars = Map("v" -> "from_var")))
    assert(cap.refs === Seq("a", "from_var", "in_loop", "m", "p", "q", "log"))
    assert(ProjectLoader.configKwargs(cap) === Map("post_hook" ->
      "insert into {{ ref('log') }} select 1", "materialized" -> "table", "tags" -> "x"))
    assert(Jinja.captureExpr("ref('m', v=2)").refs === Seq("m.v2"))
    assert(Jinja.captureExpr("source('s', 't')").sources === Seq(("s", "t")))
    assert(Jinja.captureExpr("plain_name").refs.isEmpty)
  }

  test("a ref named from an unevaluable loop's variable is not captured") {
    val cap = Jinja.capture(
      """{% for s in run_query('x') %}{{ ref('stg_' ~ s) }}{{ ref('kept') }}
        |{{ source('raw', s) }}{% endfor %}""".stripMargin)
    assert(cap.refs === Seq("kept"))
    assert(cap.sources.isEmpty)
  }

  test("capture renders the macros a template calls") {
    val m = Template.extractMacros(
      "{% macro up(n) %}{{ ref('stg_' ~ n) }}{% endmacro %}").head
    val cap = Jinja.capture("SELECT * FROM {{ up('a') }}",
      ctx.copy(macroResolver = Map("up" -> m).get))
    assert(cap.refs === Seq("stg_a"))
  }

  test("macro extraction and arg binding") {
    val text =
      """{% macro grant_select(rel, role='reader') %}
        |GRANT SELECT ON {{ rel }} TO {{ role }}
        |{% endmacro %}
        |{% macro vacuum(rel) %}VACUUM {{ rel }}{% endmacro %}""".stripMargin
    val ms = Template.extractMacros(text)
    assert(ms.map(_.name) === Seq("grant_select", "vacuum"))
    assert(ms.head.params === Seq("rel" -> None, "role" -> Some("reader")))
  }

  test("env_var, local_md5 and log builtins") {
    assert(Jinja.render("SELECT '{{ env_var('GRAFT_NO_SUCH', 'fallback') }}'", ctx)
      === "SELECT 'fallback'")
    assertThrows[IllegalArgumentException](
      Jinja.render("{{ env_var('GRAFT_NO_SUCH') }}", ctx))
    val home = sys.env("HOME")
    assert(Jinja.render("{{ env_var('HOME') }}", ctx) === home)
    assert(Jinja.render("SELECT '{{ local_md5('abc') }}'", ctx)
      === "SELECT '900150983cd24fb0d6963f7d28e17f72'")
    assert(Jinja.render("SELECT 1 {{ log('building', info=true) }}", ctx)
      === "SELECT 1")
  }

  test("set: literal assignments substitute downstream, reassignment wins") {
    assert(Jinja.render(
      "{% set status = 'O' %}SELECT * FROM t WHERE s = '{{ status }}'", ctx)
      === "SELECT * FROM t WHERE s = 'O'")
    assert(Jinja.render(
      "{% set lim = 10 %}SELECT * FROM t LIMIT {{ lim }}", ctx)
      === "SELECT * FROM t LIMIT 10")
    // later set of the same name wins
    assert(Jinja.render(
      "{% set x = 'a' %}{% set x = \"b\" %}SELECT '{{ x }}'", ctx)
      === "SELECT 'b'")
  }

  test("set: expression RHS — context calls, concatenation, chaining") {
    // var() call as RHS resolves through the normal var pass
    assert(Jinja.render(
      "{% set d = var('start') %}SELECT * FROM t WHERE d > '{{ d }}'", ctx)
      === "SELECT * FROM t WHERE d > '2020-01-01'")
    // ref() as RHS resolves to the relation name
    assert(Jinja.render(
      "{% set rel = ref('stg') %}SELECT * FROM {{ rel }}", ctx)
      === "SELECT * FROM rel_stg")
    // ~ concatenation: literal and call pieces splice adjacently
    assert(Jinja.render(
      "{% set tbl = 'pre_' ~ var('start') ~ '_post' %}SELECT '{{ tbl }}'", ctx)
      === "SELECT 'pre_2020-01-01_post'")
    // a later set may reference an earlier one
    assert(Jinja.render(
      "{% set a = 'x' %}{% set b = a ~ 'y' %}SELECT '{{ b }}'", ctx)
      === "SELECT 'xy'")
    // this as RHS
    assert(Jinja.render(
      "{% set t = this %}DELETE FROM {{ t }}", ctx)
      === "DELETE FROM this_table")
  }

  test("for-loop expands literal lists with separator conditionals") {
    val sql =
      "SELECT {% for c in ['a', 'b', 'c'] %}sum({{ c }}) AS {{ c }}_sum{% if not loop.last %}, {% endif %}{% endfor %} FROM t"
    assert(Jinja.render(sql, ctx)
      === "SELECT sum(a) AS a_sum, sum(b) AS b_sum, sum(c) AS c_sum FROM t")
  }

  test("for-loop: loop.index / loop.first / loop.last and shard unions") {
    val sql =
      "{% for s in [0, 1] %}{% if not loop.first %} UNION ALL {% endif %}SELECT {{ loop.index0 }} AS shard FROM t_{{ s }}{% endfor %}"
    assert(Jinja.render(sql, ctx)
      === "SELECT 0 AS shard FROM t_0 UNION ALL SELECT 1 AS shard FROM t_1")
    assert(Jinja.render(
      "{% for x in ['p'] %}{{ loop.index }}:{{ x }}{% if loop.last %}!{% endif %}{% endfor %}", ctx)
      === "1:p!")
  }

  test("for-loop iterates a var()-held comma list; body passes still render") {
    val c = ctx.copy(vars = ctx.vars + ("cols" -> "x,y"))
    assert(Jinja.render(
      "{% for c in var('cols') %}{{ c }}@{{ var('start') }};{% endfor %}", c)
      === "x@2020-01-01;y@2020-01-01;")
    assertThrows[IllegalArgumentException](
      Jinja.render("{% for c in var('nope') %}{{ c }}{% endfor %}", ctx))
  }

  test("for-loop body can reference set vars and refs") {
    assert(Jinja.render(
      "{% set pre = 'col_' %}{% for c in ['a'] %}{{ pre }}{{ c }} FROM {{ ref('m') }}{% endfor %}", ctx)
      === "col_a FROM rel_m")
  }

  test("load_result renders slot fields and errors on unknown slots") {
    val c = ctx.copy(results = Map("main" -> Map("rows_affected" -> "42")))
    assert(Jinja.render(
      "SELECT {{ load_result('main').rows_affected }} AS n", c) === "SELECT 42 AS n")
    assertThrows[IllegalArgumentException](
      Jinja.render("SELECT {{ load_result('other').rows_affected }}", c))
  }

  test("secret env vars: profiles/packages only, placeholder indirection, masking") {
    // reference SECRET_ENV_PREFIX semantics: base.py:311-312 (location
    // error), secret.py:22-33 (placeholder), renderer.py:204-216
    // (post-render substitution), base.py:571-579 (log masking)
    Secrets.envSeam = Map("DBT_ENV_SECRET_TOKEN" -> "hunter2")
    try {
      // (1) model/macro context: hard error naming the var
      val e = intercept[IllegalArgumentException] {
        Jinja.render("{{ env_var('DBT_ENV_SECRET_TOKEN') }}", ctx)
      }
      assert(e.getMessage.contains(
        "Secret env vars are allowed only in profiles.yml or packages.yml"))
      assert(e.getMessage.contains("DBT_ENV_SECRET_TOKEN"))
      assert(!e.getMessage.contains("hunter2"))
      // (2) secret context: the RENDER sees only the placeholder —
      // a filter cannot capture or transform the value...
      val sctx = ctx.copy(secretContext = true)
      val rendered = Jinja.render(
        "token={{ env_var('DBT_ENV_SECRET_TOKEN') }}", sctx)
      assert(!rendered.contains("hunter2"))
      assert(rendered.contains("DBT_SECRET_START"))
      // ...and substitution resolves it after the render
      assert(Secrets.substitute(rendered) === "token=hunter2")
      // the full config-value path (what profiles/packages use)
      assert(Secrets.renderConfigValue(
        "pre_{{ env_var('DBT_ENV_SECRET_TOKEN') }}") === "pre_hunter2")
      // an upper filter manipulating the placeholder still never
      // exposes the value (jinja2 only sees the opaque tag)
      val filtered = Jinja.render(
        "{{ env_var('DBT_ENV_SECRET_TOKEN') | replace('hunter', 'x') }}", sctx)
      assert(!filtered.contains("hunter2"))
      // non-secret env vars are untouched by the secret machinery
      assert(Jinja.render("{{ env_var('GRAFT_NOT_SET', 'dflt') }}", ctx)
        === "dflt")
      // unset secret: default applies in secret contexts, named error otherwise
      assert(Jinja.render(
        "{{ env_var('DBT_ENV_SECRET_MISSING', 'd') }}", sctx) === "d")
      // (3) masking: scrub removes both raw values and placeholders
      assert(Secrets.scrub("select 'hunter2' as pw") === "select '*****' as pw")
      assert(Secrets.scrub("x=" + Secrets.placeholder("DBT_ENV_SECRET_TOKEN"))
        === "x=*****")
      // ...and EventLog lines pass through scrub on both formats
      val seen = scala.collection.mutable.ArrayBuffer[String]()
      val (pf, ps, pl) = (graft.run.EventLog.format,
        graft.run.EventLog.sink, graft.run.EventLog.minLevel)
      try {
        graft.run.EventLog.format = "json"
        graft.run.EventLog.minLevel = "info"
        graft.run.EventLog.sink = s => { seen += s; () }
        graft.run.EventLog.info("boom", "msg" -> "failed near 'hunter2' token")
        graft.run.EventLog.format = "text"
        graft.run.EventLog.info("boom", "msg" -> "again hunter2")
      } finally {
        graft.run.EventLog.format = pf
        graft.run.EventLog.sink = ps
        graft.run.EventLog.minLevel = pl
      }
      assert(seen.size === 2)
      assert(seen.forall(!_.contains("hunter2")), seen.mkString("\n"))
      assert(seen.forall(_.contains("*****")))
    } finally Secrets.envSeam = Map.empty
  }
}
