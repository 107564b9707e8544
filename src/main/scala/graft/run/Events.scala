package graft.run

/** The structured-event coverage boundary vs the reference's typed
  * event system (`core/dbt/events/types.py`, 169 classes). Every
  * reference event code is listed exactly once with a disposition:
  *
  *  - `Emitted`  — this engine emits the code (as a snake_case `event`
  *    plus a `code` field on the JSON line); EventsSpec asserts the
  *    set of code literals at emit sites equals this table's Emitted
  *    set, so the table is a measured fact, not documentation.
  *  - `NA`       — no analog in a Spark-native engine, with the
  *    one-line reason (no telemetry, no git/HTTP package sources, a
  *    single exception channel, render-time vars, …).
  *
  * EVENTS.md at the repo root is generated from this table
  * (`graft.tools.EventsMd`); EventsSpec asserts the file matches.
  */
object Events {

  sealed trait Status
  case object Emitted extends Status
  case object NA extends Status

  /** One reference event class. `name` is the reference class name;
    * `event` the snake_case line name this engine uses (empty for NA). */
  final case class Ref(code: String, name: String, level: String,
      status: Status, event: String, note: String)

  private def e(code: String, name: String, level: String, event: String,
      note: String = ""): Ref = Ref(code, name, level, Emitted, event, note)
  private def na(code: String, name: String, level: String,
      reason: String): Ref = Ref(code, name, level, NA, "", reason)

  // Grouped like the reference file: A main/setup, D deprecations,
  // I parsing, M deps/selector, Q execution, W runtime exceptions,
  // Z misc/printer.
  val table: Seq[Ref] = Seq(
    // ---- A: main + setup ------------------------------------------------
    e("A001", "MainReportVersion", "info", "main_report_version",
      "version banner, first line of every CLI invocation"),
    e("A002", "MainReportArgs", "debug", "main_report_args",
      "invocation args"),
    na("A003", "MainTrackingUserState", "debug",
      "no anonymous usage tracking in this engine"),
    e("A005", "MissingProfileTarget", "info", "missing_profile_target",
      "profiles.yml absent or target unresolvable; engine falls back"),
    e("A008", "InvalidOptionYAML", "error", "invalid_option_yaml",
      "unparseable --vars payload"),
    e("A009", "LogDbtProjectError", "error", "project_error",
      "dbt_project.yml load failure at CLI entry"),
    e("A011", "LogDbtProfileError", "error", "profile_error",
      "profiles.yml load failure at CLI entry"),
    e("A017", "StarterProjectPath", "debug", "starter_project_path",
      "init: where the starter tree is scaffolded"),
    na("A018", "ConfigFolderDirectory", "info",
      "no ~/.dbt config folder; profiles.yml is per-project"),
    na("A019", "NoSampleProfileFound", "info",
      "single Spark adapter; no per-adapter sample profiles"),
    na("A020", "ProfileWrittenWithSample", "info",
      "init does not write profiles.yml (optional in this engine)"),
    na("A021", "ProfileWrittenWithTargetTemplateYAML", "info",
      "no profile templates (init is non-interactive)"),
    na("A022", "ProfileWrittenWithProjectTemplateYAML", "info",
      "no profile templates (init is non-interactive)"),
    na("A023", "SettingUpProfile", "info",
      "init is non-interactive; no profile interview"),
    na("A024", "InvalidProfileTemplateYAML", "info",
      "no profile templates"),
    e("A025", "ProjectNameAlreadyExists", "info", "project_name_already_exists",
      "init over an existing dbt_project.yml keeps it"),
    e("A026", "ProjectCreated", "info", "project_created",
      "init scaffolding done"),
    // ---- D: deprecations ------------------------------------------------
    e("I065", "DeprecatedModel", "warn", "deprecated_model",
      "model past its deprecation_date at parse"),
    na("D001", "PackageRedirectDeprecation", "warn",
      "hub package renames/redirects are not mirrored locally"),
    e("D002", "PackageInstallPathDeprecation", "warn", "deprecation"),
    e("D003", "ConfigSourcePathDeprecation", "warn", "deprecation"),
    e("D004", "ConfigDataPathDeprecation", "warn", "deprecation"),
    na("D006", "MetricAttributesRenamed", "warn",
      "legacy metric attribute spellings are strict parse errors"),
    e("D007", "ExposureNameDeprecation", "warn", "deprecation",
      "exposure name not a valid identifier"),
    na("D008", "InternalDeprecation", "warn",
      "no adapter-plugin API to deprecate"),
    na("D009", "EnvironmentVariableRenamed", "warn",
      "no renamed legacy env vars are accepted"),
    e("D010", "ConfigLogPathDeprecation", "warn", "deprecation"),
    e("D011", "ConfigTargetPathDeprecation", "warn", "deprecation"),
    e("D012", "TestsConfigDeprecation", "warn", "deprecation",
      "legacy tests: key accepted as data_tests: alias"),
    na("D013", "ProjectFlagsMovedDeprecation", "warn",
      "flags: already lives in dbt_project.yml (the post-move layout)"),
    e("D014", "SpacesInResourceNameDeprecation", "warn", "deprecation",
      "resource name contains spaces"),
    na("D015", "ResourceNamesWithSpacesDeprecation", "warn",
      "per-node D014 carries the detail; no summary line"),
    na("D016", "PackageMaterializationOverrideDeprecation", "warn",
      "materialization macros resolve adapter-then-default per package " +
        "(macroResolverFor chain); no cross-package override to flag"),
    e("D017", "SourceFreshnessProjectHooksNotRun", "warn", "deprecation",
      "freshness task does not run on-run-* hooks"),
    // ---- I: parsing -----------------------------------------------------
    na("I001", "InputFileDiffError", "debug",
      "no file-diff daemon mode"),
    na("I008", "InvalidValueForField", "warn",
      "schema-yml field violations are hard parse errors here"),
    na("I009", "ValidationWarning", "warn",
      "schema-yml field violations are hard parse errors here"),
    na("I010", "ParsePerfInfoPath", "info",
      "no --perf-info artifact flag (ParsePerfSpec holds the perf bars)"),
    na("I014", "PartialParsingErrorProcessingFile", "debug",
      "content-addressed cache has no per-file replay errors; an " +
        "unreadable state degrades whole (I024)"),
    na("I016", "PartialParsingError", "debug",
      "see I014 — state-level degradation only"),
    e("I017", "PartialParsingSkipParsing", "debug", "partial_parsing_skip_parsing"),
    e("I024", "UnableToPartialParse", "info", "unable_to_partial_parse"),
    na("I025", "StateCheckVarsHash", "debug",
      "vars/env are render-time inputs in this engine, never parse " +
        "inputs — no vars hash exists by construction"),
    e("I028", "PartialParsingNotEnabled", "debug", "partial_parsing_not_enabled"),
    na("I029", "ParsedFileLoadFailed", "debug",
      "see I014 — state-level degradation only"),
    e("I040", "PartialParsingEnabled", "debug", "partial_parsing_enabled"),
    e("I041", "PartialParsingFile", "debug", "partial_parsing_file",
      "one line per added/changed/deleted file"),
    na("I050", "InvalidDisabledTargetInTestNode", "debug",
      "tests targeting disabled models surface as resolution errors, " +
        "not silent disablement"),
    e("I051", "UnusedResourceConfigPath", "warn", "unused_resource_config_path",
      "dbt_project.yml config path matching no model"),
    na("I052", "SeedIncreased", "warn",
      "no seed size guard: seeds checksum at any size (the reference's " +
        "1 MiB limit is a msgpack-state constraint)"),
    na("I053", "SeedExceedsLimitSamePath", "warn", "see I052"),
    na("I054", "SeedExceedsLimitAndPathChanged", "warn", "see I052"),
    na("I055", "SeedExceedsLimitChecksumChanged", "warn", "see I052"),
    e("I056", "UnusedTables", "warn", "unused_tables",
      "sources defined but never referenced"),
    na("I057", "WrongResourceSchemaFile", "warn",
      "patch-type mismatches are hard parse errors here"),
    e("I058", "NoNodeForYamlKey", "warn", "no_node_for_yaml_key",
      "schema.yml patch naming a model that does not exist"),
    na("I059", "MacroNotFoundForPatch", "warn",
      "macro patches are not modeled (macro docs live in the macro file)"),
    na("I060", "NodeNotFoundOrDisabled", "warn",
      "unresolvable refs are hard compile errors here"),
    e("I061", "JinjaLogWarning", "warn", "jinja_log_warning",
      "exceptions.warn() from Jinja"),
    e("I062", "JinjaLogInfo", "info", "jinja_log_info",
      "log(msg, info=True) / print() from Jinja"),
    e("I063", "JinjaLogDebug", "debug", "jinja_log_debug",
      "log(msg) from Jinja"),
    e("I064", "UnpinnedRefNewVersionAvailable", "info",
      "unpinned_ref_new_version_available",
      "unpinned ref into a versioned family with newer versions"),
    e("I066", "UpcomingReferenceDeprecation", "warn",
      "upcoming_reference_deprecation",
      "ref to a model with a future deprecation_date"),
    e("I067", "DeprecatedReference", "warn", "deprecated_reference",
      "ref to a model past its deprecation_date"),
    e("I068", "UnsupportedConstraintMaterialization", "warn",
      "unsupported_constraint_materialization",
      "contract enforced on a non-table materialization"),
    e("I069", "ParseInlineNodeError", "error", "parse_inline_node_error",
      "compile --inline render failure"),
    e("I070", "SemanticValidationFailure", "warn", "semantic_validation_failure",
      "semantic-manifest reference check failed (metrics/measures/exports)"),
    na("I071", "UnversionedBreakingChange", "warn",
      "state comparison flags modified contracts (A23 state:modified) " +
        "without a contract-specific breaking-change class"),
    na("I072", "WarnStateTargetEqual", "warn",
      "no --state path flag: state comparisons take an explicit manifest"),
    na("I073", "FreshnessConfigProblem", "warn",
      "freshness config problems (filter without loaded_at_field) are " +
        "hard errors here"),
    // ---- M: deps + selector --------------------------------------------
    na("M001", "GitSparseCheckoutSubdirectory", "debug",
      "git package sources need egress; deps is local/tarball/hub-mirror"),
    na("M002", "GitProgressCheckoutRevision", "debug", "no git sources"),
    na("M003", "GitProgressUpdatingExistingDependency", "debug", "no git sources"),
    na("M004", "GitProgressPullingNewDependency", "debug", "no git sources"),
    na("M005", "GitNothingToDo", "debug", "no git sources"),
    na("M006", "GitProgressUpdatedCheckoutRange", "debug", "no git sources"),
    na("M007", "GitProgressCheckedOutAt", "debug", "no git sources"),
    na("M008", "RegistryProgressGETRequest", "debug",
      "the hub is a local mirror directory — no HTTP requests"),
    na("M009", "RegistryProgressGETResponse", "debug", "see M008"),
    e("M010", "SelectorReportInvalidSelector", "info",
      "selector_report_invalid_selector",
      "--selector names nothing in selectors.yml"),
    e("M013", "DepsNoPackagesFound", "info", "deps_no_packages_found"),
    e("M014", "DepsStartPackageInstall", "info", "deps_start_package_install"),
    e("M015", "DepsInstallInfo", "info", "deps_install_info"),
    e("M016", "DepsUpdateAvailable", "info", "deps_update_available",
      "mirror holds a newer version than the range resolved"),
    e("M017", "DepsUpToDate", "info", "deps_up_to_date"),
    na("M018", "DepsListSubdirectory", "info",
      "subdirectory packages are a git-source feature"),
    e("M019", "DepsNotifyUpdatesAvailable", "info",
      "deps_notify_updates_available"),
    na("M022", "RegistryIndexProgressGETRequest", "debug", "see M008"),
    na("M023", "RegistryIndexProgressGETResponse", "debug", "see M008"),
    na("M024", "RegistryResponseUnexpectedType", "debug", "see M008"),
    na("M025", "RegistryResponseMissingTopKeys", "debug", "see M008"),
    na("M026", "RegistryResponseMissingNestedKeys", "debug", "see M008"),
    na("M027", "RegistryResponseExtraNestedKeys", "debug", "see M008"),
    e("M028", "DepsSetDownloadDirectory", "debug", "deps_set_download_directory"),
    na("M029", "DepsUnpinned", "warn",
      "hub packages require an explicit version/range; git unsupported"),
    e("M030", "NoNodesForSelectionCriteria", "warn",
      "no_nodes_for_selection_criteria",
      "one selection criterion matched nothing"),
    e("M031", "DepsLockUpdating", "info", "deps_lock_updating"),
    na("M032", "DepsAddPackage", "info", "no deps --add-package flag"),
    e("M033", "DepsFoundDuplicatePackage", "info", "deps_found_duplicate_package",
      "same package staged twice; deduplicated"),
    na("M035", "DepsScrubbedPackageName", "warn",
      "no secret env interpolation in package names"),
    // ---- Q: execution ---------------------------------------------------
    e("Q001", "RunningOperationCaughtError", "error",
      "running_operation_caught_error"),
    e("Q002", "CompileComplete", "info", "compile_complete"),
    e("Q003", "FreshnessCheckComplete", "info", "freshness_check_complete"),
    e("Q004", "SeedHeader", "info", "seed_header"),
    na("Q006", "SQLRunnerException", "debug",
      "Spark exceptions surface once through W004/Q025 — no separate " +
        "SQL-runner layer"),
    e("Q007", "LogTestResult", "dynamic", "log_test_result"),
    e("Q011", "LogStartLine", "info", "log_start_line"),
    e("Q012", "LogModelResult", "dynamic", "log_model_result"),
    e("Q015", "LogSnapshotResult", "dynamic", "log_snapshot_result"),
    e("Q016", "LogSeedResult", "dynamic", "log_seed_result"),
    e("Q018", "LogFreshnessResult", "dynamic", "log_freshness_result"),
    e("Q019", "LogNodeNoOpResult", "info", "log_node_no_op_result",
      "materialized view kept under on_configuration_change=continue"),
    na("Q022", "LogCancelLine", "error",
      "no interactive cancel flow; Spark job groups cancel on JVM exit"),
    e("Q023", "DefaultSelector", "info", "default_selector"),
    e("Q024", "NodeStart", "info", "node_started"),
    e("Q025", "NodeFinished", "dynamic", "node_finished"),
    na("Q026", "QueryCancelationUnsupported", "info",
      "cancellation IS supported (per-node Spark job groups); the " +
        "unsupported-advisory has no analog"),
    e("Q027", "ConcurrencyLine", "info", "concurrency_line"),
    na("Q029", "WritingInjectedSQLForNode", "debug",
      "no injected SQL files at run time; the compile task writes " +
        "compiled SQL (Z026)"),
    na("Q030", "NodeCompiling", "debug",
      "compile and execute interleave per materialization; Z010 " +
        "carries the measured split"),
    na("Q031", "NodeExecuting", "debug", "see Q030"),
    e("Q032", "LogHookStartLine", "info", "log_hook_start_line"),
    e("Q033", "LogHookEndLine", "info", "log_hook_end_line"),
    e("Q034", "SkippingDetails", "info", "skipping_details"),
    e("Q035", "NothingToDo", "warn", "nothing_to_do"),
    na("Q036", "RunningOperationUncaughtError", "error",
      "one error channel; Q001 covers run-operation failures"),
    na("Q037", "EndRunResult", "debug",
      "invocation_finished carries the end state; Z030 the summary"),
    na("Q038", "NoNodesSelected", "warn",
      "the one scheduler path emits Q035"),
    e("Q039", "CommandCompleted", "debug", "command_completed"),
    e("Q041", "ShowNode", "info", "show_node"),
    e("Q042", "CompiledNode", "info", "compiled_node"),
    // ---- W: runtime exceptions -----------------------------------------
    na("W002", "CatchableExceptionOnRun", "debug",
      "single exception channel (W004)"),
    na("W003", "InternalErrorOnRun", "debug",
      "no internal/external error distinction (single JVM, no plugins)"),
    e("W004", "GenericExceptionOnRun", "error", "generic_exception_on_run"),
    na("W005", "NodeConnectionReleaseError", "debug",
      "no per-node connections to release (one shared SparkSession)"),
    e("W006", "FoundStats", "info", "found_stats"),
    // ---- Z: misc + printer ---------------------------------------------
    na("Z001", "MainKeyboardInterrupt", "info",
      "the JVM shutdown hook emits Q039 on any exit path"),
    e("Z002", "MainEncounteredError", "error", "main_encountered_error"),
    e("Z003", "MainStackTrace", "error", "main_stack_trace"),
    e("Z010", "TimingInfoCollected", "debug", "timing_info_collected",
      "per node: compile and execute wall seconds"),
    e("Z011", "LogDebugStackTrace", "debug", "log_debug_stack_trace"),
    e("Z012", "CheckCleanPath", "info", "check_clean_path"),
    e("Z013", "ConfirmCleanPath", "info", "confirm_clean_path"),
    e("Z014", "ProtectedCleanPath", "info", "protected_clean_path",
      "clean refuses paths outside the project"),
    e("Z015", "FinishedCleanPaths", "info", "finished_clean_paths"),
    na("Z016", "OpenCommand", "info",
      "no interactive `open` hint (no profile interview)"),
    e("Z021", "RunResultWarning", "warn", "run_result_warning"),
    e("Z022", "RunResultFailure", "error", "run_result_failure"),
    e("Z023", "StatsLine", "info", "stats_line"),
    e("Z024", "RunResultError", "error", "run_result_error"),
    na("Z025", "RunResultErrorNoMessage", "error",
      "results always carry a message"),
    e("Z026", "SQLCompiledPath", "info", "sql_compiled_path"),
    e("Z027", "CheckNodeTestFailure", "info", "check_node_test_failure"),
    e("Z030", "EndOfRunSummary", "info", "end_of_run_summary"),
    e("Z034", "LogSkipBecauseError", "error", "log_skip_because_error"),
    na("Z036", "EnsureGitInstalled", "error", "no git operations"),
    na("Z037", "DepsCreatingLocalSymlink", "debug",
      "local packages copy (deterministic installs), never symlink"),
    na("Z038", "DepsSymlinkNotAvailable", "debug", "see Z037"),
    na("Z039", "DisableTracking", "debug", "no usage telemetry"),
    na("Z040", "SendingEvent", "debug", "no usage telemetry"),
    na("Z041", "SendEventFailure", "debug", "no usage telemetry"),
    na("Z042", "FlushEvents", "debug", "no usage telemetry"),
    na("Z043", "FlushEventsFailure", "debug", "no usage telemetry"),
    na("Z044", "TrackingInitializeFailure", "debug", "no usage telemetry"),
    e("Z046", "RunResultWarningMessage", "warn", "run_result_warning_message"),
    e("Z047", "DebugCmdOut", "info", "debug_cmd_out"),
    e("Z048", "DebugCmdResult", "info", "debug_cmd_result"),
    e("Z049", "ListCmdOut", "info", "list_cmd_out"),
    e("Z051", "ResourceReport", "debug", "resource_report",
      "JVM memory/cpu stats at command end"))

  def emittedCodes: Set[String] =
    table.collect { case r if r.status == Emitted => r.code }.toSet

  /** reference event class name for a code (warn_error_options lists
    * are keyed by these names, like the reference's ALL_EVENT_NAMES). */
  def nameForCode(code: String): Option[String] =
    table.find(_.code == code).map(_.name)

  /** EVENTS.md body — regenerate with `runMain graft.tools.EventsMd`. */
  def markdown: String = {
    val sb = new StringBuilder
    sb ++= "# Structured-event coverage boundary\n\n"
    sb ++= "All 169 event classes of the reference (`core/dbt/events/types.py`)\n"
    sb ++= "mapped to this engine's event stream. `emitted` codes appear as a\n"
    sb ++= "`code` field on JSON log lines; `n/a` rows name the architectural\n"
    sb ++= "reason there is no analog. Generated from `graft.run.Events.table`\n"
    sb ++= "(`runMain graft.tools.EventsMd`); EventsSpec asserts (a) this file\n"
    sb ++= "matches the table and (b) the code literals at emit sites match the\n"
    sb ++= "emitted set exactly.\n\n"
    val n = table.count(_.status == Emitted)
    sb ++= s"**${table.size} reference codes: $n emitted, ${table.size - n} n/a.**\n\n"
    sb ++= "| code | reference class | level | status | event / reason |\n"
    sb ++= "|---|---|---|---|---|\n"
    table.sortBy(_.code).foreach { r =>
      val last = r.status match {
        case Emitted =>
          s"`${r.event}`" + (if (r.note.nonEmpty) s" — ${r.note}" else "")
        case NA => r.note
      }
      val st = if (r.status == Emitted) "emitted" else "n/a"
      sb ++= s"| ${r.code} | ${r.name} | ${r.level} | $st | $last |\n"
    }
    sb.result()
  }
}
