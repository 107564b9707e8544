package graft.parse

import java.nio.file.{Files, Path}

/** A31 partial parsing (reference `core/dbt/parser/partial.py` +
  * `manifest.py` ManifestLoader.saved_manifest /
  * `contracts/files.py` checksums): reuse the previous invocation's
  * parse results for files that have not changed, reparsing only the
  * changed/added files and anything whose parse INPUTS changed.
  *
  * The reference diffs a saved msgpack manifest against the current
  * file set and maintains an explicit dependency schedule (a changed
  * schema yml reparses the models it patches; special macros force a
  * full reparse). This engine gets the same observable behavior from
  * content-addressed memoization instead of a schedule: every parsed
  * file is cached under `(sha256(content), sha256(context))`, where
  * the context string carries exactly the out-of-file inputs the parse
  * reads — a model file's context is its schema-yml patch + its
  * `versions:` entry + the dbt_project.yml config-tree slice for its
  * directory, plus a digest of the vars. When a schema yml changes,
  * the patched models' context hashes change and they reparse
  * automatically; nothing else does. This is strictly finer-grained
  * than the reference (which falls back to a full reparse on any
  * dbt_project.yml change).
  *
  * Vars: the parse-time walk (`Jinja.capture`) evaluates `var()` with
  * the project vars overlaid by the CLI `--vars`, so their digest joins
  * the context of every walked .sql file (model, snapshot, singular
  * test) — the analog of the reference's `state_check.vars_hash`.
  * Each `env_var()` and macro the walk reads is stored with the file's
  * entry and re-read before reuse (the reference's `env_vars_changed`
  * and macro-dependency reparse). `profiles.yml` only feeds target
  * resolution at engine construction.
  *
  * Kept faithful:
  *  - special override macros (`partial.py:52-59`): a changed macro
  *    file that defines/defined ref/source/config/generate_*_name
  *    drops the whole cache (full reparse, reason recorded);
  *  - the saved state lives in the target path
  *    (`target/partial_parse.bin`, the msgpack analog), is versioned,
  *    and any unreadable/mismatched state degrades to a full parse;
  *  - a `partial_parse` structured event reports added/changed/deleted
  *    counts (reference PartialParsingEnabled) via the engine.
  */
object PartialParse {

  /** Bumped whenever cached case-class shapes change; a mismatched or
    * undeserializable state file is silently treated as absent.
    * v3: data-only StateCodec encoding (v2 was JEP-290-filtered Java
    * serialization; a v2 file fails the magic check => cold parse).
    * v4: UnitTestNode grew overrideMacros (r13) — v3 files would fail
    * arity decode anyway; the bump makes the miss a clean format check.
    * v5: SchemaOut grew seedPatches/snapshotPatches (r14, seed/snapshot
    * yml properties).
    * v6: refs/sources/config come from the parse-time walk, not regexes,
    * and .sql contexts carry the vars digest — a v5 state cold-parses
    * once.
    * v7: CachedFile records the walk's env var and macro reads. */
  val Format = 7

  val StateFileName = "partial_parse.bin"

  /** Reference `special_override_macros`: redefinitions change how
    * EVERY file parses/resolves, so a diff touching one of these
    * invalidates everything. */
  val SpecialMacros: Set[String] = Set(
    "ref", "source", "config",
    "generate_schema_name", "generate_database_name", "generate_alias_name")

  /** `reads`: `env:<NAME>` / `macro:<name>` → what the parse saw. */
  final case class CachedFile(
      sha: String, ctx: String, data: java.io.Serializable,
      reads: Map[String, String] = Map.empty)
    extends java.io.Serializable

  /** rootKey "" = root project; otherwise the package install dir name. */
  final case class State(
      format: Int, roots: Map[String, Map[String, CachedFile]])
    extends java.io.Serializable

  /** What happened during one partially-parsed load — surfaced on
    * Project so the engine can emit the reference's event. */
  final case class Stats(
      enabled: Boolean,
      stateLoaded: Boolean,
      fullReason: Option[String],
      parsed: Int,
      reused: Int,
      added: Seq[String],
      deleted: Seq[String],
      changed: Seq[String]) {
    def skipped: Boolean =
      stateLoaded && parsed == 0 && added.isEmpty && deleted.isEmpty
  }

  /** CLI/env seam (reference flag precedence: CLI --partial-parse >
    * DBT_PARTIAL_PARSE env > project `flags: partial_parse:` > on). */
  final case class Options(
      enabled: Option[Boolean] = None,
      cliTargetPath: Option[String] = None,
      env: Map[String, String] = sys.env)

  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The state file lives inside the (possibly cloned/untrusted)
    * project's target dir, so it decodes through [[StateCodec]] — a
    * data-only format over a closed case-class whitelist (no
    * ObjectInputStream, no gadget-chain surface; the v2 JEP-290 filter
    * CONTAINED that class of attack, the codec removes it — reference
    * parity: msgpack state, `core/dbt/parser/manifest.py`). Any decode
    * anomaly — wrong magic (including a v2 Java-serialized file),
    * unlisted class, truncation, bound violation — degrades to a cold
    * parse, never fatal. */
  def readState(path: Path): Option[State] =
    if (!Files.exists(path)) None
    else
      try {
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(Files.newInputStream(path)))
        try {
          if (in.readInt() != StateCodec.Magic) None
          else StateCodec.read(in) match {
            case s: State if s.format == Format => Some(s)
            case _ => None
          }
        } finally in.close()
      } catch { case _: Throwable => None }

  private val droppedStateWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  def writeState(path: Path, state: State): Unit =
    try {
      Files.createDirectories(path.getParent)
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(Files.newOutputStream(path)))
      try { out.writeInt(StateCodec.Magic); StateCodec.write(out, state); out.flush() }
      finally out.close()
    } catch {
      case e: Throwable => // state is an optimization, never fatal — but a
        // silent drop means every future run cold-parses, so say so ONCE
        if (droppedStateWarned.compareAndSet(false, true))
          System.err.println(
            s"[graft] partial-parse state not saved (cold parse next run): $e")
    }

  /** One load's worth of cache bookkeeping. ProjectLoader funnels every
    * per-file parse through [[cached]]; at the end [[finish]] yields the
    * next state plus the diff stats. Not thread-safe (parsing is
    * single-threaded, like the reference's).
    */
  final class Session(oldState: Option[State]) {
    /** Lookup map for cache hits — cleared by [[invalidateAll]]. */
    private var old: Map[String, Map[String, CachedFile]] =
      oldState.map(_.roots).getOrElse(Map.empty)
    /** The as-loaded state, kept for [[finish]]'s add/delete/change
      * diff — invalidateAll must not destroy the diff baseline (a
      * genuine deletion would otherwise vanish and every file would
      * report as "added"). */
    private val origOld: Map[String, Map[String, CachedFile]] =
      oldState.map(_.roots).getOrElse(Map.empty)
    private val fresh =
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, CachedFile]]
    private var nParsed = 0
    private var nReused = 0
    private var fullReason: Option[String] = None

    def stateLoaded: Boolean = oldState.isDefined

    /** Drop all cached results (special-macro change): everything that
      * has not yet been looked up this load will reparse. */
    def invalidateAll(reason: String): Unit = {
      old = Map.empty
      if (fullReason.isEmpty) fullReason = Some(reason)
    }

    /** True when `relPath` in `rootKey` was cached with a different
      * content sha (used for the pre-scan of special macros). */
    def contentChanged(rootKey: String, relPath: String, content: String): Boolean =
      old.get(rootKey).flatMap(_.get(relPath)) match {
        case Some(e) => e.sha != sha256(content)
        case None => false
      }

    def oldData(rootKey: String, relPath: String): Option[java.io.Serializable] =
      old.get(rootKey).flatMap(_.get(relPath)).map(_.data)

    def oldPathsIn(rootKey: String): Seq[String] =
      old.get(rootKey).map(_.keys.toSeq).getOrElse(Nil)

    /** The keys the parse running under [[cached]] read. */
    private var reads: scala.collection.mutable.Set[String] = null
    def noteRead(key: String): Unit = if (reads != null) reads += key

    /** `reread(key)` answers what a read of `key` sees now. */
    def cached[T <: java.io.Serializable](
        rootKey: String, relPath: String, content: String, ctx: String,
        reread: String => String = _ => "")(parse: => T): T = {
      val sha = sha256(content)
      val ctxSha = sha256(ctx)
      val hit = old.get(rootKey).flatMap(_.get(relPath)).filter(e =>
        e.sha == sha && e.ctx == ctxSha &&
          e.reads.forall { case (k, v) => reread(k) == v })
      val entry = hit match {
        case Some(e) => nReused += 1; e
        case None =>
          nParsed += 1
          reads = scala.collection.mutable.Set.empty
          try {
            val data = parse
            CachedFile(sha, ctxSha, data, reads.map(k => k -> reread(k)).toMap)
          } finally reads = null
      }
      fresh.getOrElseUpdate(rootKey, scala.collection.mutable.Map.empty)
        .update(relPath, entry)
      entry.data.asInstanceOf[T]
    }

    def finish(): (State, Stats) = {
      val next = State(Format, fresh.map { case (k, v) => k -> v.toMap }.toMap)
      // NB: flatMap on a Map with (rootKey, path) results would rebuild
      // a Map and collapse every path under one rootKey — iterate.
      // Diffs run against origOld so invalidateAll can't erase them.
      val oldPaths = origOld.iterator
        .flatMap { case (rk, fs) => fs.keys.map(rk -> _) }.toSet
      val newPaths = next.roots.iterator
        .flatMap { case (rk, fs) => fs.keys.map(rk -> _) }.toSet
      def names(ps: Set[(String, String)]): Seq[String] =
        ps.toSeq.map { case (rk, p) => if (rk.isEmpty) p else s"$rk/$p" }.sorted
      val changed = newPaths.intersect(oldPaths).filter { case (rk, p) =>
        origOld(rk)(p).sha != next.roots(rk)(p).sha
      }
      (next, Stats(
        enabled = true,
        stateLoaded = stateLoaded,
        fullReason = fullReason,
        parsed = nParsed,
        reused = nReused,
        added = names(newPaths.diff(oldPaths)),
        deleted = names(oldPaths.diff(newPaths)),
        changed = names(changed)))
    }
  }
}
