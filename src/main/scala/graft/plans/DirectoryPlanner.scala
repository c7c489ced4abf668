package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directory-provisioning planner — parity with `isilon_create_directories`
  * `--dry` (directories.py:41-96). Pure plan DataFrame: rebased path, octal
  * mode, owner/group with resolved numeric ids, and the three per-directory
  * commands (mkdir, chmod, chown — directories.py:62-86) as columns.
  */
object DirectoryPlanner {

  /** directories.py:29-30, 54-57: refusing to manage /ifs is fatal. */
  type HdfsRootDirectoryException = graft.HdfsRootDirectoryError

  /** Zone-relative rebase (directories.py:47-63): validate roots, strip the
    * zone prefix from the HDFS root, join each catalog path under it. The
    * plan is catalog-sized, so it is one partition sorted in place by
    * `seq` (a global sort would add a range-sample job and a shuffle).
    */
  def planDirectories(
      spark: SparkSession,
      dist: String,
      identitySuffix: String,
      zonePath: String,
      hdfsRoot: String,
      resolvedUsers: DataFrame, // name, uid
      resolvedGroups: DataFrame, // name, gid
  ): DataFrame = {
    import spark.implicits._
    val sep = "/"
    val zoneRoot = zonePath.replaceAll(s"$sep+$$", "")
    val root = hdfsRoot.replaceAll(s"$sep+$$", "")
    if (root == "/ifs") throw new HdfsRootDirectoryException(root)
    require(root.startsWith(zoneRoot), s"HDFS root $root must live under the zone root $zoneRoot")
    val zoneHdfs = root.substring(zoneRoot.length)

    val dirs = Catalogs.directoriesFor(dist, Catalogs.normalizeSuffix(identitySuffix)).toDF()
    dirs
      .withColumn(
        "rebased",
        concat(lit(zoneHdfs), lit(sep), regexp_replace($"path", "^/+", "")),
      )
      .withColumn("mode_octal", conv($"mode".cast("string"), 10, 8))
      .join(broadcast(resolvedUsers.select($"name".as("owner"), $"uid")), Seq("owner"), "left")
      .join(broadcast(resolvedGroups.select($"name".as("group"), $"gid")), Seq("group"), "left")
      .select(
        $"seq",
        $"rebased".as("path"),
        $"owner",
        $"group",
        $"mode_octal",
        $"uid".cast("long").as("uid"),
        $"gid".cast("long").as("gid"),
        format_string("mkdir %s %s", $"rebased", conv($"mode".cast("string"), 10, 8)).as("cmd_mkdir"),
        format_string("chmod %s %s", conv($"mode".cast("string"), 10, 8), $"rebased").as("cmd_chmod"),
        format_string("chown %s:%s %s", $"owner", $"group", $"rebased").as("cmd_chown"),
      )
      .coalesce(1)
      .sortWithinPartitions("seq")
  }

  /** J5 referential integrity (tests/test_directories.py:6-14): every
    * directory owner/group must be provided by the identity catalog.
    * Returns the violations — callers assert empty.
    */
  def integrityViolations(
      dirs: DataFrame, // owner, group
      users: DataFrame, // name
      groups: DataFrame, // name
  ): DataFrame = {
    val badOwner = dirs
      .select(col("owner").as("name"))
      .distinct()
      .join(users.select("name"), Seq("name"), "left_anti")
      .withColumn("kind", lit("missing_owner"))
    val badGroup = dirs
      .select(col("group").as("name"))
      .distinct()
      .join(groups.select("name"), Seq("name"), "left_anti")
      .withColumn("kind", lit("missing_group"))
    badOwner.unionByName(badGroup)
  }
}
