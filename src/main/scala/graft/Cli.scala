package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.{Catalogs, DirectoryPlanner, IdentityPlanner}
import graft.sinks.DirectoryApplier

/** CLI parity with the reference's console scripts (_scripts.py:20-46,
  * 55-77; cli.py:62-98, 152-176): two entry points sharing a base flag
  * surface —
  *
  *   graft.Cli create-users        --zone Z --dist {cdh,cdp,hdp} [--dry]
  *   graft.Cli create-directories  [--append-cluster-name N] [--start-uid N]
  *                                 [--start-gid N] [--user-password P]
  *                                 [--no-verify] [--onefs-user U]
  *                                 [--onefs-password P] [-q|--quiet]
  *                                 [--log-file F] [--log-level L] TARGET
  *
  * The positional TARGET plays the role of the reference's onefs_address:
  * the effect destination. For create-users it receives the generated
  * provisioning script (identities.py:224-229 script artifact) AND the
  * live-applied user-db sidecar at TARGET/userdb (identities.py:124-160
  * via [[graft.sinks.IdentityApplier]]); for create-directories it is the
  * filesystem root the plan is applied onto (directories.py:62-86 via
  * [[DirectoryApplier]]). `--dry`
  * logs what would happen instead (_scripts.py DRY_RUN), `--no-verify` /
  * `--onefs-user` / `--onefs-password` / `--user-password` are accepted
  * for flag parity (no TLS endpoint exists here; they only shape logging).
  *
  * Both commands plan and apply on the driver (a fresh zone has no state
  * to query, and the plans are catalog-sized): create-users runs one Spark
  * job, the script write, and create-directories none.
  *
  * Exit codes match argparse/catches semantics: 0 ok, 1 caught tool error
  * (cli.py:33-47), 2 usage error.
  */
object Cli {

  final case class Config(
      command: String,
      zone: String = "",
      dist: String = "",
      dry: Boolean = false,
      appendClusterName: Option[String] = None,
      startUid: Long = 1025L, // identities.py:56 default_start_uid
      startGid: Long = 1025L, // identities.py:57 default_start_gid
      userPassword: Option[String] = None,
      noVerify: Boolean = false,
      onefsUser: String = "root",
      onefsPassword: Option[String] = None,
      quiet: Boolean = false,
      logFile: Option[String] = None,
      logLevel: String = "info",
      target: String = "",
  )

  val Commands = Seq("create-users", "create-directories")
  private val Dists = Set("cdh", "cdp", "hdp")
  private val Levels = Seq("debug", "info", "warning", "error", "critical")

  final case class UsageError(message: String) extends RuntimeException(message)

  /** argparse-style parse: flags in any order, one required positional. */
  val Version = "4.0" // _scripts.py:41-45 --version parity

  /** Raised by --version: handled as print-and-exit-0 (argparse action). */
  final case class VersionRequested() extends RuntimeException

  def parse(argv: Seq[String]): Config = {
    if (argv.contains("--version")) throw VersionRequested()
    if (argv.isEmpty || !Commands.contains(argv.head))
      throw UsageError(s"expected a command of ${Commands.mkString("|")}")
    var c = Config(command = argv.head)
    var rest = argv.tail.toList
    var positional = List.empty[String]
    def value(flag: String, r: List[String]): (String, List[String]) = r match {
      case v :: tail => (v, tail)
      case Nil => throw UsageError(s"$flag expects a value")
    }
    def long(flag: String, v: String): Long =
      v.toLongOption.getOrElse(throw UsageError(s"$flag expects an integer, got '$v'"))
    while (rest.nonEmpty) {
      rest match {
        case "--zone" :: t => val (v, t2) = value("--zone", t); c = c.copy(zone = v); rest = t2
        case "-z" :: t => val (v, t2) = value("-z", t); c = c.copy(zone = v); rest = t2
        case "--dist" :: t => val (v, t2) = value("--dist", t); c = c.copy(dist = v); rest = t2
        case "--dry" :: t => c = c.copy(dry = true); rest = t
        case "--append-cluster-name" :: t =>
          val (v, t2) = value("--append-cluster-name", t)
          c = c.copy(appendClusterName = Some(v)); rest = t2
        case "--start-uid" :: t =>
          val (v, t2) = value("--start-uid", t); c = c.copy(startUid = long("--start-uid", v)); rest = t2
        case "--start-gid" :: t =>
          val (v, t2) = value("--start-gid", t); c = c.copy(startGid = long("--start-gid", v)); rest = t2
        case "--user-password" :: t =>
          val (v, t2) = value("--user-password", t); c = c.copy(userPassword = Some(v)); rest = t2
        case "--no-verify" :: t => c = c.copy(noVerify = true); rest = t
        case "--onefs-user" :: t =>
          val (v, t2) = value("--onefs-user", t); c = c.copy(onefsUser = v); rest = t2
        case "--onefs-password" :: t =>
          val (v, t2) = value("--onefs-password", t); c = c.copy(onefsPassword = Some(v)); rest = t2
        case ("-q" | "--quiet") :: t => c = c.copy(quiet = true); rest = t
        case "--log-file" :: t =>
          val (v, t2) = value("--log-file", t); c = c.copy(logFile = Some(v)); rest = t2
        case "--log-level" :: t =>
          val (v, t2) = value("--log-level", t)
          if (!Levels.contains(v)) throw UsageError(s"--log-level must be one of ${Levels.mkString(",")}")
          c = c.copy(logLevel = v); rest = t2
        case flag :: _ if flag.startsWith("-") => throw UsageError(s"unknown flag $flag")
        case pos :: t => positional = positional :+ pos; rest = t
      }
    }
    positional match {
      case target :: Nil => c = c.copy(target = target)
      case Nil => throw UsageError("missing TARGET positional (the effect destination)")
      case more => throw UsageError(s"unexpected extra positionals: ${more.tail.mkString(" ")}")
    }
    if (c.zone.isEmpty) throw UsageError("--zone is required")
    if (!Dists.contains(c.dist)) throw UsageError("--dist must be one of cdh|cdp|hdp")
    c
  }

  /** Console + optional-file logger honoring -q/--log-file/--log-level
    * (cli.py:152-198 configure_logging).
    */
  final class Logger(c: Config) {
    private val order = Levels.zipWithIndex.toMap
    private val min = order(c.logLevel)
    def log(level: String, msg: String): Unit = if (order(level) >= min) {
      val line = s"[${level.toUpperCase}] $msg"
      if (!c.quiet) println(line)
      c.logFile.foreach { f =>
        Files.write(
          Paths.get(f),
          (line + "\n").getBytes(UTF_8),
          StandardOpenOption.CREATE,
          StandardOpenOption.APPEND,
        )
      }
    }
    def info(msg: String): Unit = log("info", msg)
  }

  private val DryRun = "Had this been for real, this is what would have happened..."

  private def normalizedSuffix(c: Config): String =
    c.appendClusterName.map(Catalogs.normalizeSuffix).getOrElse("")

  /** Identity plan with no pre-existing identities (a fresh zone — the
    * CLI's re-run story goes through the planner's existing-state inputs).
    * A local frame: with empty state the planner runs no Spark job, and
    * the log, the script, the apply and the directory plan all read it.
    */
  private def identityPlan(spark: SparkSession, c: Config): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("name", "id")
    IdentityPlanner.planIdentities(
      spark, c.dist, c.zone, normalizedSuffix(c), c.startUid, c.startGid, empty, empty)
  }

  def run(argv: Seq[String], spark: SparkSession): Int =
    try {
      val c = parse(argv)
      val logger = new Logger(c)
      if (c.noVerify) logger.log("debug", "TLS verification disabled (no-op: no endpoint)")
      val suffix = normalizedSuffix(c)
      // timestamped artifact name (_scripts.py:100-113): epoch-zone-dist[-cluster]
      val name = s"${System.currentTimeMillis() / 1000}-${c.zone}-${c.dist}$suffix"
      c.command match {
        case "create-users" =>
          val plan = identityPlan(spark, c)
          if (c.dry) {
            logger.info(DryRun)
            logger.info(s"A script would have been created at ${c.target}/$name.sh.")
            logger.info("The following actions would have populated it and the target:")
            plan.collect().foreach(r => logger.info(r.getAs[String]("shell_line")))
          } else {
            // the reference applies to the cluster AND writes the replay
            // script (identities.py:224-229); here the live target is the
            // user-db sidecar under TARGET, the script lands beside it
            val path = s"${c.target}/$name.sh"
            IdentityPlanner.writeScript(plan, path)
            logger.info(s"wrote $path")
            val stats = graft.sinks.IdentityApplier.applyPlan(plan, s"${c.target}/userdb")
            logger.info(
              s"applied: groups=${stats.groups} users=${stats.users} " +
                s"members=${stats.members} proxies=${stats.proxies} burns=${stats.burns}")
          }
        case "create-directories" =>
          // resolve ids the way the reference queries them back from the
          // live cluster: the identity planner's allocations for this zone
          val ids = identityPlan(spark, c).collect()
          def idsOf(action: String): Map[String, Long] = ids.collect {
            case r if r.getAs[String]("action") == action => r.getAs[String]("name") -> r.getAs[Long]("id")
          }.toMap
          val plan = DirectoryPlanner.planDirectories(
            spark, c.dist, suffix,
            zonePath = s"/ifs/zones/${c.zone}",
            hdfsRoot = s"/ifs/zones/${c.zone}/hadoop",
            uids = idsOf("create_user"),
            gids = idsOf("create_group"),
          )
          if (c.dry) {
            logger.info(DryRun)
            plan.collect().foreach { r =>
              logger.info(s"${r.getAs[String]("cmd_mkdir")}; ${r.getAs[String]("cmd_chmod")}; " +
                r.getAs[String]("cmd_chown"))
            }
          } else {
            val stats = DirectoryApplier.applyPlan(plan, c.target)
            logger.info(
              s"applied: mkdirs=${stats.mkdirs} chmods=${stats.chmods} chowns=${stats.chowns}")
          }
      }
      0
    } catch {
      case VersionRequested() => println(s"graft v$Version"); 0
      case UsageError(m) => System.err.println(s"usage error: $m"); 2
      case e: GraftError => System.err.println(s"[ERROR] ${e.getMessage}"); 1
    }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder
      .appName("graft-cli")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    // sys.exit halts the JVM without unwinding the stack — a
    // `try ... finally` around it would never run the finally. Compute
    // the code, stop Spark explicitly, then exit.
    val code =
      try run(args.toIndexedSeq, spark)
      finally spark.stop()
    sys.exit(code)
  }
}
