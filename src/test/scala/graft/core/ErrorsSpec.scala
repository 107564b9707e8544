package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The exception-surface boundary is a measured fact (the EVENTS.md
  * treatment for `core/dbt/exceptions.py`, VERDICT r15 item 2):
  *  - ERRORS.md's class inventory equals the pinned reference list
  *    exactly (one row per class, plus the compilation.py cycle row);
  *  - every reference-text / engine-error row's fragment literally
  *    appears in the cited engine source file;
  *  - every n/a / gap row carries a reason;
  *  - the Errors factories render the exact reference message texts.
  */
class ErrorsSpec extends AnyFunSuite {

  /** `grep -E "^class " core/dbt/exceptions.py` at reference HEAD. */
  private val referenceClasses = Seq(
    "ContractBreakingChangeError", "ParsingError", "dbtPluginError",
    "JSONValidationError", "AliasError", "DependencyError", "FailFastError",
    "DbtProjectError", "DbtSelectorsError", "DbtProfileError",
    "DbtExclusivePropertyUseError", "InvalidSelectorError",
    "DuplicateYamlKeyError", "GraphDependencyNotFoundError",
    "NoSupportedLanguagesFoundError", "MaterializtionMacroNotUsedError",
    "MacroNamespaceNotStringError", "UnknownGitCloningProblemError",
    "NoAdaptersAvailableError", "BadSpecError", "GitCloningError",
    "GitCheckoutError", "OperationError", "ZipStrictWrongTypeError",
    "SetStrictWrongTypeError", "LoadAgateTableValueError",
    "LoadAgateTableNotSeedError", "PackageNotInDepsError",
    "OperationsCannotRefEphemeralNodesError", "PersistDocsValueTypeError",
    "InlineModelConfigError", "ConflictingConfigKeysError",
    "NumberSourceArgsError", "RequiredVarNotFoundError",
    "PackageNotFoundForMacroError", "SecretEnvVarLocationError",
    "BooleanError", "RefArgsError", "MetricArgsError", "RefBadContextError",
    "DocArgsError", "DocTargetNotFoundError", "MacroDispatchArgError",
    "DuplicateMacroNameError", "MacroResultAlreadyLoadedError",
    "DictParseError", "ConfigUpdateError", "PythonParsingError",
    "PythonLiteralEvalError", "ModelConfigError", "YamlParseListError",
    "YamlParseDictError", "YamlLoadError", "TestConfigError",
    "SchemaConfigError", "SnapshopConfigError", "DbtReferenceError",
    "InvalidAccessTypeError", "InvalidUnitTestGivenInput",
    "SameKeyNestedError", "TestArgIncludesModelError",
    "UnexpectedTestNamePatternError", "CustomMacroPopulatingConfigValueError",
    "TagsNotListOfStringsError", "TagNotStringError", "TestNameNotStringError",
    "TestArgsNotDictError", "TestDefinitionDictLengthError", "TestTypeError",
    "EnvVarMissingError", "TargetNotFoundError",
    "DuplicateSourcePatchNameError", "DuplicateMacroPatchNameError",
    "DuplicateAliasError", "MultipleVersionGitDepsError",
    "DuplicateProjectDependencyError", "DuplicateDependencyToRootError",
    "MismatchedDependencyTypeError", "PackageVersionNotFoundError",
    "PackageNotFoundError", "ProfileConfigError", "ProjectContractError",
    "ProjectContractBrokenError", "ConfigContractBrokenError",
    "NonUniquePackageNameError", "UninstalledPackagesFoundError",
    "OptionNotYamlDictError", "UnrecognizedCredentialTypeError",
    "PatchTargetNotFoundError", "MissingRelationError", "AmbiguousAliasError",
    "AmbiguousResourceNameRefError", "AmbiguousCatalogMatchError",
    "DependencyNotFoundError", "DuplicatePatchPathError",
    "DuplicateResourceNameError", "DuplicateVersionedUnversionedError",
    "PropertyYMLError", "ContractError", "UnknownAsyncIDException",
    "RPCFailureResult", "RPCTimeoutException", "RPCKilledException",
    "RPCCompiling", "RPCLoadException",
    "(cycle, compilation.py:188-191)") // compilation.py RuntimeError row

  private case class Row(cls: String, disposition: String,
      file: String, detail: String)

  private lazy val rows: Seq[Row] = {
    val md = java.nio.file.Files.readString(java.nio.file.Paths.get("ERRORS.md"))
    md.linesIterator.filter(_.startsWith("| ")).toSeq
      .drop(1) // header (the |---| separator doesn't match the filter)
      .map { l =>
        val cells = l.stripPrefix("|").stripSuffix("|").split("\\|").map(_.trim)
        assert(cells.length == 4, s"bad ERRORS.md row: $l")
        Row(cells(0), cells(1), cells(2), cells(3))
      }
  }

  test("ERRORS.md inventory == pinned reference class list, one row each") {
    val names = rows.map(_.cls)
    assert(names.distinct.size === names.size,
      s"duplicate rows: ${names.diff(names.distinct)}")
    val missing = referenceClasses.toSet -- names.toSet
    val extra = names.toSet -- referenceClasses.toSet
    assert(missing.isEmpty, s"classes missing from ERRORS.md: $missing")
    assert(extra.isEmpty, s"rows not in the reference list: $extra")
  }

  test("reference-text / engine-error rows: fragment exists in the cited file") {
    for (r <- rows if r.disposition == "reference-text" || r.disposition == "engine-error") {
      val frag = r.detail.stripPrefix("`").stripSuffix("`")
      val p = java.nio.file.Paths.get(r.file)
      assert(java.nio.file.Files.exists(p), s"${r.cls}: cited file ${r.file} missing")
      val src = java.nio.file.Files.readString(p)
      assert(src.contains(frag),
        s"${r.cls}: fragment <$frag> not found in ${r.file}")
    }
  }

  test("n/a and gap rows carry a reason") {
    for (r <- rows if r.disposition == "n/a" || r.disposition == "gap")
      assert(r.detail.length >= 10, s"${r.cls}: reason too thin: '${r.detail}'")
    // the gap list is EMPTY as of r15 — every reference exception class
    // is either emitted (reference-text or engine-error) or n/a with an
    // architectural reason; keep it that way
    assert(rows.count(_.disposition == "gap") === 0,
      "gap rows appeared — close them instead of cataloguing them")
  }

  // ---- exact reference texts from the factories --------------------

  private val model1 = ModelNode("orders", "SELECT 1", originPath = "models/orders.sql")
  private val model2 = ModelNode("orders", "SELECT 2", originPath = "models/sub/orders.sql")
  private val rpt = ModelNode("rpt", "SELECT 1", originPath = "models/rpt.sql")

  test("TargetNotFoundError text (exceptions.py:826-869)") {
    val e = Errors.targetNotFound(rpt, "stg_order", "node",
      disabled = Some(false), candidates = Seq("stg_orders", "dim_parts"))
    assert(e.getMessage ===
      "Model 'model.graft.rpt' (models/rpt.sql) depends on a node named " +
        "'stg_order' which was not found\nDid you mean 'stg_orders'?")
    val dis = Errors.targetNotFound(rpt, "parked", "node", disabled = Some(true))
    assert(dis.getMessage.endsWith("depends on a node named 'parked' which is disabled"))
    val unk = Errors.targetNotFound(rpt, "x", "node")
    assert(unk.getMessage.contains("which was not found or is disabled"))
    val pkg = Errors.targetNotFound(rpt, "x", "node", targetPackage = Some("pkg"))
    assert(pkg.getMessage.contains(
      "depends on a node named 'x' in package or project 'pkg' which"))
  }

  test("RefBadContextError text (exceptions.py)") {
    val e = Errors.refBadContext(rpt, "stg_orders")
    assert(e.getMessage ===
      "dbt was unable to infer all dependencies for the model \"rpt\".\n" +
        "This typically happens when ref() is placed within a conditional block.\n\n" +
        "To fix this, add the following hint to the top of the model \"rpt\":\n\n" +
        "-- depends_on: {{ ref('stg_orders') }}")
    assert(Errors.refBadContext(rpt, "dim.v2").getMessage
      .endsWith("-- depends_on: {{ ref('dim',v='2') }}"))
  }

  test("DuplicateResourceNameError text (exceptions.py:1240-1289)") {
    val e = Errors.duplicateResourceName(model1, model2)
    assert(e.getMessage.startsWith("dbt found two models with the name \"orders\"."))
    assert(e.getMessage.contains(
      "dbt will be unable to find the correct resource\nwhen looking for ref(\"orders\")."))
    assert(e.getMessage.contains("- model.graft.orders (models/orders.sql)"))
    assert(e.getMessage.contains("- model.graft.orders (models/sub/orders.sql)"))
  }

  test("AmbiguousAliasError text (exceptions.py:1138-1156)") {
    val e = Errors.ambiguousAlias(model1, model2, "analytics.shared")
    assert(e.getMessage.startsWith(
      "dbt found two resources with the database representation \"analytics.shared\"."))
    assert(e.getMessage.contains("change the configuration of one of these resources:"))
  }

  test("DbtReferenceError text (exceptions.py:665-678)") {
    val e = Errors.referenceNotAllowed("model.graft.leak", "model.graft.sec",
      "private", "finance")
    assert(e.getMessage ===
      "Node model.graft.leak attempted to reference node model.graft.sec, " +
        "which is not allowed because the referenced node is private to the " +
        "'finance' group.")
    val p = Errors.referenceNotAllowed("model.a.x", "model.b.y", "protected", "b")
    assert(p.getMessage.endsWith("is protected to the 'b' package."))
  }

  test("DuplicateVersionedUnversionedError text (exceptions.py:1292-1310)") {
    val versioned = ModelNode("orders", "SELECT 1", version = Some(2),
      originPath = "models/orders_v2.sql")
    val un = ModelNode("orders", "SELECT 2", originPath = "models/orders.sql")
    val e = Errors.duplicateVersionedUnversioned(versioned, un)
    assert(e.getMessage.startsWith(
      "dbt found versioned and unversioned models with the name \"orders\"."))
    assert(e.getMessage.contains("when looking for ref('orders')."))
    assert(e.getMessage.contains(
      "change the name of the unversioned resource\nmodel.graft.orders (models/orders.sql)"))
  }

  test("DuplicateMacroNameError text (exceptions.py:486-509)") {
    val e = Errors.duplicateMacroName("my_macro", "proj",
      "macros/a.sql", "macros/b.sql")
    assert(e.getMessage.startsWith(
      "dbt found two macros with the name \"my_macro\" in the namespace \"proj\"."))
    assert(e.getMessage.contains("dbt will be unable to decide which to call"))
    assert(e.getMessage.contains("- macro.proj.my_macro (macros/a.sql)"))
    assert(e.getMessage.contains("- macro.proj.my_macro (macros/b.sql)"))
  }

  test("DuplicatePatchPathError text (exceptions.py:1217-1238)") {
    val same = Errors.duplicatePatchPath("orders", "models/a.yml", "models/a.yml")
    assert(same.getMessage.startsWith(
      "dbt found two schema.yml entries for the same resource named orders."))
    assert(same.getMessage.endsWith(
      "remove one of the resource entries for orders in this file:\n - models/a.yml\n"))
    val diff = Errors.duplicatePatchPath("orders", "models/a.yml", "models/b.yml")
    assert(diff.getMessage.contains(
      "remove the resource entry for orders in one of these files:\n" +
        " - models/a.yml\n - models/b.yml\n"))
  }

  test("cycle text (compilation.py:188-191)") {
    val e = Errors.foundCycle(Seq("model.graft.a", "model.graft.b", "model.graft.a"))
    assert(e.getMessage ===
      "Found a cycle: model.graft.a --> model.graft.b --> model.graft.a")
  }

  test("nearest-name suggestion is edit-distance bounded") {
    assert(Errors.nearest("stg_order", Seq("stg_orders", "unrelated")) ===
      Some("stg_orders"))
    assert(Errors.nearest("zz", Seq("stg_orders")) === None)
    // never suggests the target itself
    assert(Errors.nearest("x", Seq("x")) === None)
  }

  test("error classes extend IllegalArgumentException (catch-site compatibility)") {
    assert(Errors.targetNotFound(rpt, "x", "node")
      .isInstanceOf[IllegalArgumentException])
    assert(Errors.referenceNotAllowed("a", "b", "private", "g")
      .isInstanceOf[IllegalArgumentException])
  }
}
