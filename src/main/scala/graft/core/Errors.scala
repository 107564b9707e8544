package graft.core

/** Reference-parity user-facing errors (`core/dbt/exceptions.py`) —
  * the messages users actually debug against during a migration. Each
  * factory renders the exact reference message text (cited per method);
  * ERRORS.md carries the full exception-class inventory with an
  * emitted / n-a disposition per class, and ErrorsSpec enforces that
  * every message fragment quoted there still exists at the cited site.
  *
  * All classes extend IllegalArgumentException so existing engine catch
  * sites (and `intercept[IllegalArgumentException]` specs) keep
  * working — the reference hierarchy (DbtRuntimeError > CompilationError
  * / ParsingError) is mirrored in name only; Scala callers dispatch on
  * these two types, not a deep tree.
  */
object Errors {

  /** reference `CompilationError` (compile/link-time user error). */
  class CompilationError(msg: String) extends IllegalArgumentException(msg)

  /** reference `ParsingError` (parse-time user error). */
  class ParsingError(msg: String) extends IllegalArgumentException(msg)

  private def title(resourceType: String): String =
    resourceType.split("_").map(_.capitalize).mkString(" ")

  private def pathOf(n: Node): String = n match {
    case m: ModelNode => m.originPath
    case s: SeedNode => s.originPath
    case s: SnapshotNode => s.originPath
    case t: TestNode => t.originPath
    case _ => ""
  }

  /** Levenshtein distance, for the nearest-name suggestion channel. */
  private[core] def editDistance(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Closest candidate within an edit-distance budget that scales with
    * the target's length (1 for short names, ~1/4 of length for long). */
  private[core] def nearest(target: String, candidates: Iterable[String]): Option[String] = {
    val budget = math.max(1, target.length / 4)
    candidates.filter(_ != target)
      .map(c => c -> editDistance(target.toLowerCase, c.toLowerCase))
      .filter(_._2 <= budget)
      .minByOption(_._2).map(_._1)
  }

  /** TargetNotFoundError (`core/dbt/exceptions.py:826-869`): a ref /
    * source / metric target that resolved to nothing. `disabled` =
    * Some(true) when the target exists but is disabled, Some(false)
    * when it is definitively absent, None when unknown. The
    * did-you-mean suggestion line is an engine extension appended
    * AFTER the verbatim reference sentence.
    */
  def targetNotFound(node: Node, targetName: String, targetKind: String,
      targetPackage: Option[String] = None,
      disabled: Option[Boolean] = None,
      candidates: Iterable[String] = Nil): CompilationError = {
    val reason = disabled match {
      case None => "was not found or is disabled"
      case Some(true) => "is disabled"
      case Some(false) => "was not found"
    }
    val pkg = targetPackage.map(p => s"in package or project '$p' ").getOrElse("")
    val base = s"${title(node.resourceType)} '${node.uniqueId}' (${pathOf(node)}) " +
      s"depends on a $targetKind named '$targetName' $pkg" + s"which $reason"
    val hint = nearest(targetName, candidates)
      .map(c => s"\nDid you mean '$c'?").getOrElse("")
    new CompilationError(base + hint)
  }

  /** DuplicateResourceNameError (`core/dbt/exceptions.py:1240-1289`):
    * two ref-able resources sharing one name. */
  def duplicateResourceName(node1: Node, node2: Node): CompilationError = {
    val dupedName = node1.name
    val pluralized =
      if (node1.resourceType == node2.resourceType) node1.resourceType + "s"
      else "resources"
    val refable = Set("model", "seed", "snapshot")
    val formattedName =
      if (refable(node1.resourceType)) s"""ref("$dupedName")"""
      else dupedName
    new CompilationError(
      s"""dbt found two $pluralized with the name "$dupedName".
         |
         |Since these resources have the same name, dbt will be unable to find the correct resource
         |when looking for $formattedName.
         |
         |To fix this, change the name of one of these resources:
         |- ${node1.uniqueId} (${pathOf(node1)})
         |- ${node2.uniqueId} (${pathOf(node2)})""".stripMargin)
  }

  /** AmbiguousAliasError (`core/dbt/exceptions.py:1138-1156`): two
    * nodes materializing to the same database relation. */
  def ambiguousAlias(node1: Node, node2: Node, dupedName: String): CompilationError =
    new CompilationError(
      s"""dbt found two resources with the database representation "$dupedName".
         |dbt cannot create two resources with identical database representations. To fix this,
         |change the configuration of one of these resources:
         |- ${node1.uniqueId} (${pathOf(node1)})
         |- ${node2.uniqueId} (${pathOf(node2)})""".stripMargin)

  /** The cycle error (`core/dbt/compilation.py:128-135,188-191`):
    * `Found a cycle: a --> b --> a`. */
  def foundCycle(cycle: Seq[String]): RuntimeException =
    new RuntimeException(s"Found a cycle: ${cycle.mkString(" --> ")}")

  /** DuplicateVersionedUnversionedError (`core/dbt/exceptions.py:
    * 1292-1310`): a versioned model family plus an unversioned model
    * sharing one name — unpinned refs would be ambiguous. */
  def duplicateVersionedUnversioned(versioned: Node, unversioned: Node): ParsingError =
    new ParsingError(
      s"""dbt found versioned and unversioned models with the name "${versioned.name}".
         |
         |Since these resources have the same name, dbt will be unable to find the correct resource
         |when looking for ref('${versioned.name}').
         |
         |To fix this, change the name of the unversioned resource
         |${unversioned.uniqueId} (${pathOf(unversioned)})""".stripMargin)

  /** DuplicateMacroNameError (`core/dbt/exceptions.py:486-509`): two
    * macros with one name in one namespace (here: same package — the
    * cross-package case resolves by namespace precedence). */
  def duplicateMacroName(name: String, namespace: String,
      path1: String, path2: String): CompilationError =
    new CompilationError(
      s"""dbt found two macros with the name "$name" in the namespace "$namespace". """ +
        "Since these macros have the same name and exist in the same " +
        "namespace, dbt will be unable to decide which to call. To fix this, " +
        s"change the name of one of these macros:\n" +
        s"- macro.$namespace.$name ($path1)\n- macro.$namespace.$name ($path2)")

  /** DuplicatePatchPathError (`core/dbt/exceptions.py:1217-1238`,
    * raised at `parser/schemas.py:694` — "patches can't be
    * overwritten"): one resource described by two schema-yml entries.
    * The fix-it tail mirrors dbt-common's `_fix_dupe_msg`. */
  def duplicatePatchPath(name: String, path1: String, path2: String): CompilationError = {
    val fix =
      if (path1 == path2)
        s"remove one of the resource entries for $name in this file:\n - $path1\n"
      else
        s"remove the resource entry for $name in one of these files:\n" +
          s" - $path1\n - $path2\n"
    new CompilationError(
      s"dbt found two schema.yml entries for the same resource named $name. " +
        "Resources and their associated columns may only be described a " +
        s"single time. To fix this, $fix")
  }

  /** RefBadContextError (exceptions.py): a ref resolved at render
    * whose target is not in the node's depends_on — the parse-time
    * capture never saw it, so the DAG lacks the edge. `spec` is `m` or
    * a pinned `m.v2`. */
  def refBadContext(node: Node, spec: String): CompilationError = {
    val args = """^(.*)\.v(\d+)$""".r.findFirstMatchIn(spec)
      .map(m => s"'${m.group(1)}',v='${m.group(2)}'").getOrElse(s"'$spec'")
    new CompilationError(
      s"""dbt was unable to infer all dependencies for the model "${node.name}".
         |This typically happens when ref() is placed within a conditional block.
         |
         |To fix this, add the following hint to the top of the model "${node.name}":
         |
         |-- depends_on: {{ ref($args) }}""".stripMargin)
  }

  /** DbtReferenceError (`core/dbt/exceptions.py:665-678`): a ref to a
    * node whose access level forbids it from this scope. `access` is
    * "private" (scope = group) or "protected" (scope = package). */
  def referenceNotAllowed(uniqueId: String, refUniqueId: String,
      access: String, scope: String): ParsingError = {
    val scopeType = if (access == "private") "group" else "package"
    new ParsingError(
      s"Node $uniqueId attempted to reference node $refUniqueId, " +
        s"which is not allowed because the referenced node is $access " +
        s"to the '$scope' $scopeType.")
  }
}
