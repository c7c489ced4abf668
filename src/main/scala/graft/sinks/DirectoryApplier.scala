package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

/** The live apply path for `directory_plan` — the effect side of the
  * reference's `Creator.create_directories` loop (directories.py:62-86):
  * per directory, mkdir (already-exists tolerated), chmod, chown, in that
  * order. Here the target is a real filesystem root instead of a OneFS
  * REST endpoint: mkdir and the 9-bit mode are applied natively;
  * owner/group (and the full mode incl. setuid/sticky bits, which the JVM
  * POSIX view cannot express) live in a `.graft_meta` sidecar per
  * directory — the same shape as any idempotent external target.
  *
  * Idempotence is observable, not assumed: every effect is
  * check-then-apply, and only effects that *changed* state count in
  * [[ApplyStats]]. Re-applying an applied plan therefore reports zero
  * actions — the reference's re-run semantics (mkdir already-exists
  * warning, chmod/chown to identical values) proven at the effect level,
  * not just the plan level.
  *
  * Ordering: like the reference, rows apply sequentially in plan order
  * (the planner's `seq`), so parents precede children; mkdir still uses
  * create-parents semantics (`Files.createDirectories`), so a plan whose
  * parent row comes later, or is absent, applies too. Rows go through
  * [[RetryingSink.foreachRowWithRetryStateful]], so a transient target
  * error retries per row without restarting the apply.
  */
object DirectoryApplier {

  /** Count of state-changing effects in one apply pass. */
  final case class ApplyStats(mkdirs: Long, chmods: Long, chowns: Long) {
    def total: Long = mkdirs + chmods + chowns
  }

  private val MetaFile = ".graft_meta"

  /** A plan row whose path would land outside the apply root — a permanent
    * error (never retried): the plan is wrong, not the target.
    */
  final class PathEscapesRootError(message: String) extends RuntimeException(message)

  private def permsOf(mode: Int): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val bits = Seq(
      OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
      GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
      OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1,
    )
    val s = new java.util.HashSet[PosixFilePermission]()
    bits.foreach { case (p, b) => if ((mode & b) != 0) s.add(p) }
    s
  }

  /** Current sidecar metadata of `dir` as exact `k=v` fields ("mode",
    * "own"), empty when never applied. Field-wise equality, never substring
    * matching: `own=bob:staff2` must NOT satisfy a want of `own=bob:staff`.
    */
  private def readMeta(dir: Path): Map[String, String] = {
    val f = dir.resolve(MetaFile)
    if (!Files.exists(f)) Map.empty
    else
      new String(Files.readAllBytes(f), UTF_8)
        .split("\\s+")
        .iterator
        .filter(_.contains('='))
        .map { tok =>
          val i = tok.indexOf('=')
          tok.substring(0, i) -> tok.substring(i + 1)
        }
        .toMap
  }

  /** Post-apply epilogue — the reference's auth-cache flush
    * (onefs.py:1037-1070, invoked exactly once after ALL identities are
    * created, identities.py:185-186): applied state must become visible
    * to later readers that may hold cached views of the target. The
    * Spark-native analog drops every cached file-listing/data view under
    * the apply root, so a subsequent `spark.read` observes the
    * post-apply world instead of a stale FileIndex. Dry-run (plan
    * logging) never applies, hence never flushes — mirroring the
    * reference's `_flush_auth_cache=lambda: None` in `log_identities`
    * (identities.py:196).
    */
  def flushTargetCaches(plan: DataFrame, root: String): Unit =
    plan.sparkSession.catalog.refreshByPath(root)

  /** Apply a `directory_plan` DataFrame onto filesystem root `root`.
    * Expects the plan's (path, mode_octal, owner, group) columns; `path`
    * is zone-relative (leading slash) and lands under `root`. The plan is
    * catalog-sized: it is collected once (a local plan collects without a
    * Spark job) and applied on the driver.
    */
  def applyPlan(
      plan: DataFrame,
      root: String,
      maxRetries: Int = 5,
      backoffMs: Long = 10L,
      epilogue: Option[(DataFrame, String) => Unit] = None,
  ): ApplyStats = {
    var mkdirs, chmods, chowns = 0L
    val rows = plan.select("path", "mode_octal", "owner", "group").collect().toSeq
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    // Per-row set-only flags, threaded ACROSS retry attempts: an effect
    // performed on an attempt that later failed transiently stays
    // recorded (the retry sees it already applied and would otherwise
    // report nothing), and commit adds each row's deltas exactly once.
    final class RowDeltas { var mkdir, chmod, chown = false }
    RetryingSink.foreachRowWithRetryStateful(rows, maxRetries, backoffMs)(() =>
      new RowDeltas,
    ) { (row, deltas) =>
      val rel = row.getAs[String]("path").dropWhile(_ == '/')
      val modeOctal = row.getAs[String]("mode_octal")
      val owner = row.getAs[String]("owner")
      val group = row.getAs[String]("group")
      val dir = rootPath.resolve(rel).normalize()
      // `..` segments (or an absolute override) must never write outside the
      // target root — permanent error, the plan row is malformed
      if (!dir.startsWith(rootPath))
        throw new PathEscapesRootError(s"plan path '$rel' resolves outside apply root $rootPath")

      // mkdir — create-parents, already-exists tolerated (directories.py:66-71)
      if (!Files.isDirectory(dir)) {
        Files.createDirectories(dir)
        deltas.mkdir = true
      }

      // chmod — real 9-bit perms + full octal recorded in the sidecar
      // (directories.py:73-74); only a differing mode counts as an action
      val mode = Integer.parseInt(modeOctal, 8)
      val wantPerms = permsOf(mode & 0x1ff)
      val meta = readMeta(dir)
      if (Files.getPosixFilePermissions(dir) != wantPerms || !meta.get("mode").contains(modeOctal)) {
        Files.setPosixFilePermissions(dir, wantPerms)
        deltas.chmod = true
      }

      // chown — sidecar owner:group (directories.py:75-86)
      val wantOwn = s"$owner:$group"
      if (!meta.get("own").contains(wantOwn)) deltas.chown = true

      val newMeta = s"mode=$modeOctal own=$wantOwn"
      if (meta != Map("mode" -> modeOctal, "own" -> wantOwn))
        Files.write(dir.resolve(MetaFile), newMeta.getBytes(UTF_8))
    } { deltas =>
      if (deltas.mkdir) mkdirs += 1
      if (deltas.chmod) chmods += 1
      if (deltas.chown) chowns += 1
    }
    // C6 epilogue: fires exactly once per apply, strictly after every row
    epilogue.getOrElse(flushTargetCaches _)(plan, rootPath.toString)
    ApplyStats(mkdirs, chmods, chowns)
  }
}
