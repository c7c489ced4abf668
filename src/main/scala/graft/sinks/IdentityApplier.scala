package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}

/** The live apply path for `identity_plan` — the users-tool analog of
  * [[DirectoryApplier]], closing the reference's last effect-level
  * asymmetry: `isilon_create_users` applies its catalog over REST
  * (identities.py:124-160, 231-281); here the target is a local user-db
  * sidecar — four line-oriented tables (groups, users, memberships, proxy
  * users) under one directory — the same shape as any idempotent external
  * identity store.
  *
  * Semantics mirrored from the reference, checkable at the effect level:
  *
  *  - check-then-apply everywhere: a name that already exists keeps its id
  *    and counts ZERO actions (identities.py:137-149 user-already-exists,
  *    251-263 group-already-exists), so a re-run of an applied plan
  *    reports `total == 0`;
  *  - '''burn-on-collision''': an id taken by a DIFFERENT name advances to
  *    the next candidate id, once per burned id, exactly like the
  *    reference's `while True: next_uid / continue` loop
  *    (identities.py:126-139, 233-254) — observable in
  *    [[IdentityApplier.ApplyStats.burns]], and cascading (the burned-past
  *    id occupies the next planned slot, shifting later creates) like the
  *    live allocator;
  *  - memberships tolerate already-in-group (identities.py:100-112), proxy
  *    users tolerate already-exists WITHOUT updating members
  *    (identities.py:216-223 returns on the duplicate);
  *  - `useradd` resolves the primary group's gid from the TARGET at apply
  *    time (identities.py:268-281 `gid_of_group`), not from the plan — a
  *    group that burned to a different gid mid-apply is still resolved
  *    correctly;
  *  - the auth-cache flush fires exactly once per apply, after every row
  *    (identities.py:185-186): the epilogue bumps a
  *    `.authcache_epoch` counter in the db so the flush itself is
  *    observable.
  *
  * Rows apply in the reference's creation order — groups, users,
  * memberships, proxy users (iterate_identities, identities.py:284-309),
  * then `seq` (input order when the plan has no `seq`) — because later
  * rows read earlier rows' state (pgid resolution, membership referential
  * checks). The plan is catalog-sized (tens of rows per distribution): it
  * is collected once (a local plan collects without a Spark job) and
  * applied on the driver through
  * [[RetryingSink.foreachRowWithRetryStateful]]; data-scale work stays in
  * the planner's DataFrames, this sink only lands the tiny effect set.
  * Each row's mutation still takes the db's exclusive lock (a JVM-level
  * mutex plus a `FileLock` for cross-process safety) — the serialization
  * point a REST endpoint provides server-side. A transient error retries
  * the row; re-running a whole apply is safe because every effect is
  * check-then-apply.
  */
object IdentityApplier {

  /** Count of state-changing effects in one apply pass. `burns` counts ids
    * skipped by the collision loop (not state changes themselves, but the
    * observable trace of the reference's allocator burn).
    */
  final case class ApplyStats(groups: Long, users: Long, members: Long, proxies: Long, burns: Long) {
    def total: Long = groups + users + members + proxies
  }

  /** A membership or user row referencing a name the db does not hold — a
    * permanent error (never retried): the plan is wrong, not the target.
    */
  final class UnknownIdentityError(message: String) extends RuntimeException(message)

  // One JVM-level mutex per db path: FileLock is per-process (overlapping
  // locks from two threads in one JVM throw instead of blocking),
  // so same-JVM writers serialize here and cross-process writers on the
  // FileLock beneath.
  private val jvmLocks = TrieMap.empty[String, Object]

  private def withDbLock[A](db: Path)(f: => A): A = {
    Files.createDirectories(db)
    val mutex = jvmLocks.getOrElseUpdate(db.toString, new Object)
    mutex.synchronized {
      val ch = FileChannel.open(
        db.resolve(".lock"),
        StandardOpenOption.CREATE,
        StandardOpenOption.WRITE,
      )
      try {
        val l = ch.lock()
        try f
        finally l.release()
      } finally ch.close()
    }
  }

  private def readLines(f: Path): Seq[String] =
    if (!Files.exists(f)) Seq.empty
    else new String(Files.readAllBytes(f), UTF_8).split("\n").toSeq.filter(_.nonEmpty)

  private def writeLines(f: Path, lines: Seq[String]): Unit =
    Files.write(f, (lines.mkString("\n") + (if (lines.isEmpty) "" else "\n")).getBytes(UTF_8))

  // groups.db: name:gid — the `:`-split is safe because catalog names never
  // carry ':' (they are POSIX account names)
  private def readGroups(db: Path): Map[String, Long] =
    readLines(db.resolve("groups.db")).map { l =>
      val Array(n, g) = l.split(":", 2); n -> g.toLong
    }.toMap

  // users.db: name:uid:pgid
  private def readUsers(db: Path): Map[String, (Long, Long)] =
    readLines(db.resolve("users.db")).map { l =>
      val Array(n, u, p) = l.split(":", 3); n -> (u.toLong, p.toLong)
    }.toMap

  private def writeGroups(db: Path, m: Map[String, Long]): Unit =
    writeLines(db.resolve("groups.db"), m.toSeq.sortBy(_._1).map { case (n, g) => s"$n:$g" })

  private def writeUsers(db: Path, m: Map[String, (Long, Long)]): Unit =
    writeLines(
      db.resolve("users.db"),
      m.toSeq.sortBy(_._1).map { case (n, (u, p)) => s"$n:$u:$p" },
    )

  /** The epilogue: bump the auth-cache epoch counter (the observable
    * flush — identities.py:185-186 flushes exactly once after all rows).
    * The read-modify-write takes the same db lock as every other mutation
    * so concurrent applies cannot lose a flush record.
    */
  def bumpAuthEpoch(db: Path): Unit = withDbLock(db) {
    Files.write(db.resolve(EpochFile), (readEpoch(db) + 1L).toString.getBytes(UTF_8))
  }

  def authEpoch(dbDir: String): Long = readEpoch(Paths.get(dbDir))

  private val EpochFile = ".authcache_epoch"

  private def readEpoch(db: Path): Long = {
    val f = db.resolve(EpochFile)
    if (Files.exists(f)) new String(Files.readAllBytes(f), UTF_8).trim.toLong else 0L
  }

  /** The four effects in creation order (identities.py:284-309): the sort
    * rank of each plan action and the stats counter its applied rows bump.
    */
  private val Phases = Seq("create_group", "create_user", "add_member", "create_proxy_user")

  /** Per-row set-only record of what the effect OBSERVED PERFORMING,
    * threaded across retry attempts; `action` picks the counter it commits to.
    */
  private final class RowDeltas { var action = ""; var applied = false; var burned = 0L }

  // groups (identities.py:124-160)
  private def createGroup(row: Row, db: Path, deltas: RowDeltas): Unit = {
    val name = row.getAs[String]("name")
    val g = readGroups(db)
    if (!g.contains(name) && !deltas.applied) {
      val taken = g.values.toSet
      var gid = row.getAs[Long]("id")
      while (taken.contains(gid)) { gid += 1; deltas.burned += 1 }
      writeGroups(db, g.updated(name, gid))
      deltas.applied = true
    }
  }

  // users; pgid resolved from the TARGET (identities.py:268-281)
  private def createUser(row: Row, db: Path, deltas: RowDeltas): Unit = {
    val name = row.getAs[String]("name")
    val u = readUsers(db)
    if (!u.contains(name) && !deltas.applied) {
      val pgroup = row.getAs[String]("arg")
      val pgid = readGroups(db).getOrElse(
        pgroup,
        throw new UnknownIdentityError(s"primary group '$pgroup' of user '$name' not in db"),
      )
      val taken = u.values.map(_._1).toSet
      var uid = row.getAs[Long]("id")
      while (taken.contains(uid)) { uid += 1; deltas.burned += 1 }
      writeUsers(db, u.updated(name, (uid, pgid)))
      deltas.applied = true
    }
  }

  // memberships, already-in-group tolerated (identities.py:100-112)
  private def addMember(row: Row, db: Path, deltas: RowDeltas): Unit = {
    val user = row.getAs[String]("name")
    val group = row.getAs[String]("arg")
    if (!readUsers(db).contains(user))
      throw new UnknownIdentityError(s"membership references unknown user '$user'")
    if (!readGroups(db).contains(group))
      throw new UnknownIdentityError(s"membership references unknown group '$group'")
    val f = db.resolve("members.db")
    val cur = readLines(f)
    val line = s"$user:$group"
    if (!cur.contains(line) && !deltas.applied) {
      writeLines(f, cur :+ line)
      deltas.applied = true
    }
  }

  // proxy users, duplicate returns WITHOUT update (identities.py:216-223)
  private def createProxyUser(row: Row, db: Path, deltas: RowDeltas): Unit = {
    val name = row.getAs[String]("name")
    val f = db.resolve("proxy.db")
    val cur = readLines(f)
    if (!cur.exists(_.startsWith(s"$name=")) && !deltas.applied) {
      writeLines(f, cur :+ s"$name=${row.getAs[String]("arg")}")
      deltas.applied = true
    }
  }

  /** Apply an `identity_plan` DataFrame onto the user-db at `dbDir`.
    * Expects the plan's (action, name, arg, id) columns and uses `seq`
    * when present; rows of other actions are ignored. The catalog-sized
    * plan is collected once and every row applies in (phase, seq) order
    * with per-row retry, then the auth-cache epilogue fires once.
    */
  def applyPlan(
      plan: DataFrame,
      dbDir: String,
      maxRetries: Int = 5,
      backoffMs: Long = 10L,
  ): ApplyStats = {
    val applied = Array.fill(Phases.size)(0L)
    var burns = 0L
    val db = Paths.get(dbDir).toAbsolutePath.normalize()

    // Rows in (phase, seq) order, sequentially: every mutation takes the
    // whole-db lock anyway, and under a collision the burn outcome depends
    // on the order, which must match the sequential reference and the
    // replay script written beside the db. sortBy is stable, so without
    // `seq` rows keep their input order within a phase.
    val rows = plan.collect().toSeq.filter(r => Phases.contains(r.getAs[String]("action")))
    val phase = (r: Row) => Phases.indexOf(r.getAs[String]("action"))
    val ordered =
      if (plan.columns.contains("seq")) rows.sortBy(r => (phase(r), r.getAs[Number]("seq").longValue))
      else rows.sortBy(phase)
    RetryingSink.foreachRowWithRetryStateful(ordered, maxRetries, backoffMs)(() => new RowDeltas) {
      (row, deltas) =>
        deltas.action = row.getAs[String]("action")
        withDbLock(db)(deltas.action match {
          case "create_group" => createGroup(row, db, deltas)
          case "create_user" => createUser(row, db, deltas)
          case "add_member" => addMember(row, db, deltas)
          case "create_proxy_user" => createProxyUser(row, db, deltas)
        })
    } { d => if (d.applied) applied(Phases.indexOf(d.action)) += 1; burns += d.burned }

    // C6 epilogue: exactly once per apply, strictly after every row
    bumpAuthEpoch(db)
    val Seq(groups, users, members, proxies) = applied.toSeq
    ApplyStats(groups, users, members, proxies, burns)
  }

  /** Read-back helpers for specs and the CLI log line. */
  def groupsIn(dbDir: String): Map[String, Long] = readGroups(Paths.get(dbDir))
  def usersIn(dbDir: String): Map[String, (Long, Long)] = readUsers(Paths.get(dbDir))
  def membersIn(dbDir: String): Set[(String, String)] =
    readLines(Paths.get(dbDir).resolve("members.db")).map { l =>
      val Array(u, g) = l.split(":", 2); (u, g)
    }.toSet
  def proxiesIn(dbDir: String): Map[String, String] =
    readLines(Paths.get(dbDir).resolve("proxy.db")).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
}
