package graft.run

/** Deprecation registry — the reference's `core/dbt/deprecations.py`
  * plus the D-coded warn events in `core/dbt/events/types.py:250-400`:
  * each deprecation fires ONCE per name as a structured warn event
  * (`deprecation` with name/code/msg fields) and joins the active set
  * (`deprecations.active_deprecations` in the reference test surface);
  * under `--warn-error` the first hit raises instead, mirroring the
  * reference's promotion of deprecation warnings to CompilationError.
  *
  * Process-global like the reference module; `reset()` is the test
  * seam (`deprecations.reset_deprecations()`).
  */
object Deprecations {

  /** `--warn-error` promotion of a deprecation warning (the reference
    * raises CompilationError with the deprecation description). */
  final class DeprecationError(msg: String) extends RuntimeException(msg)

  private val active = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def reset(): Unit = active.clear()

  def activeDeprecations: Set[String] = {
    import scala.jdk.CollectionConverters._
    active.keySet.asScala.toSet
  }

  /** Fire a deprecation: structured warn event on first occurrence
    * (buffered-once semantics, reference `deprecations.py:warn`), hard
    * error when `warnError` is set.
    */
  def warn(name: String, code: String, msg: String,
      warnError: Boolean = false): Unit = {
    if (warnError) throw new DeprecationError(msg)
    if (active.putIfAbsent(name, msg) == null)
      EventLog.warn("deprecation", "name" -> name, "code" -> code, "msg" -> msg)
  }
}
