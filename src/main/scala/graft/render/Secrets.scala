package graft.render

/** A26 secret env vars (reference `DBT_ENV_SECRET_` prefix,
  * `dbt_common.constants.SECRET_ENV_PREFIX`; location rule
  * `core/dbt/context/base.py:311-312` SecretEnvVarLocationError;
  * placeholder indirection `core/dbt/context/secret.py:22-33` +
  * `core/dbt/config/renderer.py:191-216`; log masking
  * `core/dbt/context/base.py:571-579` and dbt_common scrub_secrets).
  *
  * Semantics, mirrored exactly:
  *  - `env_var('DBT_ENV_SECRET_*')` is ONLY legal while rendering
  *    profiles.yml / packages.yml (`Context.secretContext`); anywhere
  *    else (models, macros, hooks, schema yml) it raises the
  *    reference's parsing error.
  *  - Inside a secret context the Jinja render never sees the VALUE:
  *    env_var returns an opaque placeholder, and [[substitute]] swaps
  *    in the real value only after the render completes — so no
  *    filter/macro can capture, transform, or leak a partial secret.
  *  - [[scrub]] masks secret values (and raw placeholders) with
  *    `*****` in every outward-facing line: EventLog routes all
  *    console/file lines through it, run_results messages pass
  *    through it at write time.
  */
object Secrets {
  val Prefix = "DBT_ENV_SECRET_"
  private val StartTag = "$$$DBT_SECRET_START$$$"
  private val EndTag = "$$$DBT_SECRET_END$$$"
  val Mask = "*****"

  /** Test seam layered over the process environment (same role as
    * Context.envOverrides, but secrets are read at substitution/scrub
    * time — after the render — so they need a process-global seam). */
  @volatile var envSeam: Map[String, String] = Map.empty

  private def env: Map[String, String] =
    if (envSeam.isEmpty) sys.env else sys.env ++ envSeam

  def isSecret(name: String): Boolean = name.startsWith(Prefix)
  def get(name: String): Option[String] = env.get(name)
  def placeholder(name: String): String = StartTag + name + EndTag

  /** All set secret values (reference dbt_common `env_secrets()`). */
  def values: Seq[String] =
    env.collect { case (k, v) if isSecret(k) && v.nonEmpty => v }.toSeq

  /** Post-render substitution (reference
    * `SecretRenderer.render_value`, renderer.py:204-216): each
    * placeholder becomes its env value; an unset one is the missing
    * env_var error (named, never valued).
    */
  def substitute(rendered: String): String = {
    var out = rendered
    var i = out.indexOf(StartTag)
    while (i >= 0) {
      val e = out.indexOf(EndTag, i)
      if (e < 0) return out
      val name = out.substring(i + StartTag.length, e)
      val v = env.getOrElse(name, throw new IllegalArgumentException(
        s"env_var $name is undefined"))
      out = out.substring(0, i) + v + out.substring(e + EndTag.length)
      i = out.indexOf(StartTag)
    }
    out
  }

  /** Mask secret values and raw placeholders in outward-facing text.
    * No-op (zero allocation beyond the scan) when no secrets are set. */
  def scrub(msg: String): String = {
    if (msg == null) return msg
    var out = msg
    for (v <- values if out.contains(v)) out = out.replace(v, Mask)
    var i = out.indexOf(StartTag)
    while (i >= 0) {
      val e = out.indexOf(EndTag, i)
      if (e < 0) return out
      out = out.substring(0, i) + Mask + out.substring(e + EndTag.length)
      i = out.indexOf(StartTag)
    }
    out
  }

  /** Render one profiles.yml / packages.yml scalar (the reference's
    * SecretRenderer): ordinary Jinja with secretContext on, then the
    * placeholder substitution. Values without template syntax pass
    * through untouched.
    */
  def renderConfigValue(raw: String): String =
    if (!raw.contains("{{") && !raw.contains("{%")) raw
    else substitute(Jinja.render(raw,
      Template.Context(_ => "", (_, _) => "", "", secretContext = true)))
}
