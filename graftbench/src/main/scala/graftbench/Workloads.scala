package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.plans.{Catalogs, IdentityPlanner}
import graft.sinks.IdentityApplier

/** The ops of one workload, as the harness drives them. */
trait Workload {
  def ops: Seq[String]

  /** Op order of one pass; pass 0 is the set-up's warm pass. */
  def order(pass: Int, seed: Long): Seq[String]

  /** Runs one op; returns the ms spent building its plan (0 when the op
    * has no separate build step).
    */
  def run(spark: SparkSession, op: String, pass: Int): Double

  /** Untimed check of what `op` just did: None when it holds. */
  def verify(spark: SparkSession, op: String, pass: Int): Option[String] = None

  /** Housekeeping after a pass, outside the timed region. */
  def endPass(pass: Int): Unit = ()

  /** Observable target state `op` mutates in `pass` (for sinks.mutations). */
  def state(op: String, pass: Int): Set[String] = Set.empty
}

/** Declared queries from `SparkEntry.queries`, each forced through Spark's
  * noop sink (every output column materializes, nothing is written). The
  * check pass writes each result as parquet for run.py's oracle compare.
  */
final class SqlOps(data: String, val ops: Seq[String]) extends Workload {
  private val fns = {
    val all = graft.SparkEntry.queries
    ops.map(o => o -> all.getOrElse(o, throw new IllegalArgumentException(s"unknown query $o"))).toMap
  }

  def order(pass: Int, seed: Long): Seq[String] = Main.shuffledGroups(ops.map(Seq(_)), seed, pass)

  def run(spark: SparkSession, op: String, pass: Int): Double = {
    val t0 = System.nanoTime()
    val df = fns(op)(spark, data)
    val buildMs = (System.nanoTime() - t0) / 1e6
    df.write.format("noop").mode("overwrite").save()
    buildMs
  }

  /** Writes `op`'s result under `dir` for the oracle compare. */
  def writeResult(spark: SparkSession, op: String, dir: Path): Unit =
    fns(op)(spark, data).write.mode("overwrite").parquet(dir.resolve(op).toString)
}

/** The provisioning path: `graft.Cli.run` for create-users and
  * create-directories, each to a fresh target and then re-applied to the
  * same target, plus `IdentityPlanner.planIdentities` against a parquet
  * snapshot of existing users and groups that squat on ids in the
  * allocation range (the distributed, collision-avoiding path).
  *
  * Ops are `<kind>:<dist>`, kind one of users, users-reapply, dirs,
  * dirs-reapply, plan. A pass runs the five kinds of one dist; passes
  * rotate through the dists in a fixed order. `data` holds params.tsv
  * (dist, zone, cluster suffix, start uid, start gid) and
  * `<dist>/{users,groups}.parquet`.
  *
  * Every op's effect is checked right after it runs, outside the timed
  * region, against expectations derived from the catalogs alone: the
  * applied user db holds the catalog's identities with unique ids,
  * contiguous from the start ids; script texts never change; the directory
  * tree holds the catalog's directories with their modes and owners; a
  * re-apply changes nothing; allocations against the snapshot skip every
  * squatter id and take the first free ids.
  */
final class Provision(data: Path, out: Path, val ops: Seq[String]) extends Workload {
  private final case class Params(zone: String, suffix: String, startUid: Long, startGid: Long)

  private val params: Map[String, Params] =
    Files.readAllLines(data.resolve("params.tsv")).asScala.filter(_.nonEmpty).map { line =>
      val Array(dist, zone, suffix, uid, gid) = line.split("\t")
      dist -> Params(zone, suffix, uid.toLong, gid.toLong)
    }.toMap

  private def split(op: String): (String, String) = {
    val Array(kind, dist) = op.split(":")
    (kind, dist)
  }
  private val dists = ops.map(split(_)._2).distinct

  def order(pass: Int, seed: Long): Seq[String] = {
    val dist = dists(Math.floorMod(pass, dists.size))
    ops.filter(split(_)._2 == dist)
  }

  private def passRoot(pass: Int): Path = out.resolve("targets").resolve(s"pass$pass")
  private def target(op: String, pass: Int): Path = {
    val (kind, dist) = split(op)
    passRoot(pass).resolve(s"$dist-${if (kind.startsWith("users")) "users" else "dirs"}")
  }

  private def cli(spark: SparkSession, command: String, dist: String, t: Path): Unit = {
    val p = params(dist)
    val rc = graft.Cli.run(
      Seq(command, "--zone", p.zone, "--dist", dist, "--append-cluster-name", p.suffix,
        "--start-uid", p.startUid.toString, "--start-gid", p.startGid.toString, "-q", t.toString),
      spark,
    )
    if (rc != 0) throw new IllegalStateException(s"$command --dist $dist exited $rc")
  }

  private def squatters(dist: String, kind: String): String =
    data.resolve(dist).resolve(s"$kind.parquet").toString

  private var planned: Array[Row] = Array.empty

  def run(spark: SparkSession, op: String, pass: Int): Double = {
    split(op) match {
      case (k, d) if k.startsWith("users") => cli(spark, "create-users", d, target(op, pass))
      case (k, d) if k.startsWith("dirs") => cli(spark, "create-directories", d, target(op, pass))
      case ("plan", d) =>
        val p = params(d)
        planned = IdentityPlanner.planIdentities(
          spark, d, p.zone, Catalogs.normalizeSuffix(p.suffix), p.startUid, p.startGid,
          spark.read.parquet(squatters(d, "users")), spark.read.parquet(squatters(d, "groups")),
        ).collect()
      case (k, _) => throw new IllegalArgumentException(s"unknown provisioning op kind $k")
    }
    0.0
  }

  override def state(op: String, pass: Int): Set[String] = snapshot(target(op, pass))

  override def endPass(pass: Int): Unit = Main.deleteTree(passRoot(pass))

  // ---- checks --------------------------------------------------------------

  /** Target state after each fresh apply, for the re-apply check. */
  private val applied = mutable.Map.empty[Path, Set[String]]
  /** Every script text create-users wrote, per dist. */
  private val scripts = mutable.Map.empty[String, mutable.Set[String]]

  override def verify(spark: SparkSession, op: String, pass: Int): Option[String] = {
    val (kind, dist) = split(op)
    val t = target(op, pass)
    kind match {
      case "users" | "dirs" =>
        val now = snapshot(t)
        applied(t) = now
        val want = if (kind == "users") expectedIdentities(dist) else expectedTree(dist)
        if (want != now) Some(s"target differs from the catalog: ${(want -- now).size} missing, ${(now -- want).size} unexpected")
        else if (kind == "users") scriptMismatch(dist, t)
        else None
      case "users-reapply" | "dirs-reapply" =>
        val before = applied.getOrElse(t, Set.empty[String])
        val now = snapshot(t)
        if (before != now) Some(s"re-apply changed ${(before -- now).size + (now -- before).size} entries")
        else if (kind == "users-reapply") scriptMismatch(dist, t)
        else None
      case "plan" => allocationMismatch(spark, dist)
    }
  }

  /** The user db a fresh zone must end up with, derived from the catalog
    * alone: groups and users take contiguous ids from the start ids in
    * creation order, each user's gid is its primary group's.
    */
  private def expectedIdentities(dist: String): Set[String] = {
    val p = params(dist)
    val actions = Catalogs.actionsFor(dist, p.zone, p.suffix).sortBy(_.seq)
    def of(action: String) = actions.filter(_.action == action)
    val gids = of("create_group").map(_.name).zipWithIndex.map { case (n, i) => n -> (p.startGid + i) }.toMap
    gids.map { case (n, g) => s"group $n=$g" }.toSet ++
      of("create_user").zipWithIndex.map { case (a, i) => s"user ${a.name}=${p.startUid + i}:${gids(a.arg)}" } ++
      of("add_member").map(a => s"member ${a.name}:${a.arg}") ++
      of("create_proxy_user").map(a => s"proxy ${a.name}=${a.arg}")
  }

  /** The directory tree a fresh zone must end up with: every catalog
    * directory under the zone's HDFS root (`hadoop/`), with its mode and
    * owner.
    */
  private def expectedTree(dist: String): Set[String] =
    Catalogs.directoriesFor(dist, Catalogs.normalizeSuffix(params(dist).suffix)).map { d =>
      val perms = "rwxrwxrwx".zipWithIndex.map { case (ch, i) => if ((d.mode & (1 << (8 - i))) != 0) ch else '-' }
      entry(
        java.nio.file.Paths.get("hadoop", d.path.dropWhile(_ == '/')).normalize().toString,
        s"mode=${Integer.toOctalString(d.mode)} own=${d.owner}:${d.group}",
        perms.mkString,
      )
    }.toSet

  /** Every script text written for this dist so far is the same. */
  private def scriptMismatch(dist: String, t: Path): Option[String] = {
    val texts = scripts.getOrElseUpdate(dist, mutable.Set.empty)
    texts ++= scriptTexts(t)
    if (texts.size == 1) None else Some(s"${texts.size} distinct script texts for $dist")
  }

  /** Allocated ids are unique, skip every squatter id, and are the first
    * free ids from the start id, in creation order.
    */
  private def allocationMismatch(spark: SparkSession, dist: String): Option[String] = {
    val p = params(dist)
    def taken(kind: String): Set[Long] =
      spark.read.parquet(squatters(dist, kind)).collect().map(_.getAs[Long]("id")).toSet
    Seq(("create_user", p.startUid, taken("users")), ("create_group", p.startGid, taken("groups"))).flatMap {
      case (action, start, squat) =>
        val ids = planned.filter(_.getAs[String]("action") == action)
          .sortBy(_.getAs[Int]("seq")).map(_.getAs[Long]("id")).toSeq
        val free = Iterator.iterate(start)(_ + 1).filterNot(squat).take(ids.size).toSeq
        if (ids.isEmpty) Some(s"no $action rows planned")
        else if (ids.distinct.size != ids.size) Some(s"$action ids are not unique")
        else if (ids.exists(squat)) Some(s"$action allocated a squatter id")
        else if (ids != free) Some(s"$action ids are not the first free ids from $start")
        else None
    }.headOption
  }

  // ---- target state ----------------------------------------------------------

  private def entry(rel: String, meta: String, perms: String): String = s"dir $rel $meta $perms"

  /** Identity entries of the target's user db plus every managed directory
    * (path, sidecar metadata, permissions).
    */
  private def snapshot(t: Path): Set[String] = {
    if (!Files.isDirectory(t)) return Set.empty
    val db = t.resolve("userdb")
    val ids =
      if (!Files.isDirectory(db)) Set.empty[String]
      else {
        val d = db.toString
        IdentityApplier.groupsIn(d).map { case (n, g) => s"group $n=$g" }.toSet ++
          IdentityApplier.usersIn(d).map { case (n, (u, g)) => s"user $n=$u:$g" } ++
          IdentityApplier.membersIn(d).map { case (u, g) => s"member $u:$g" } ++
          IdentityApplier.proxiesIn(d).map { case (n, a) => s"proxy $n=$a" }
      }
    val s = Files.walk(t)
    val dirs =
      try s.iterator().asScala.filter(_.getFileName.toString == ".graft_meta").map { f =>
        val dir = f.getParent
        entry(
          t.relativize(dir).toString,
          new String(Files.readAllBytes(f), UTF_8).trim,
          PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)),
        )
      }.toSet
      finally s.close()
    ids ++ dirs
  }

  /** Text of each script directory (`*.sh`, one text output) under `t`. */
  private def scriptTexts(t: Path): Set[String] = {
    val s = Files.list(t)
    try s.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".sh") && Files.isDirectory(p)).map { d =>
      val parts = Files.list(d)
      try parts.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString).map(f => new String(Files.readAllBytes(f), UTF_8)).mkString
      finally parts.close()
    }.toSet
    finally s.close()
  }
}
