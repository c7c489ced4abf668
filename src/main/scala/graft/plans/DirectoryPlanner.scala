package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Directory-provisioning planner — parity with `isilon_create_directories`
  * `--dry` (directories.py:41-96). Pure plan DataFrame: rebased path, octal
  * mode, owner/group with resolved numeric ids, and the three per-directory
  * commands (mkdir, chmod, chown — directories.py:62-86) as columns.
  */
object DirectoryPlanner {

  /** directories.py:29-30, 54-57: refusing to manage /ifs is fatal. */
  type HdfsRootDirectoryException = graft.HdfsRootDirectoryError

  // `directory_plan`'s output schema: the nullability is written into its
  // parquet (seq and cmd_* REQUIRED), so it is stated, not inferred
  private val PlanSchema = StructType(
    Seq(
      StructField("seq", IntegerType, nullable = false),
      StructField("path", StringType),
      StructField("owner", StringType),
      StructField("group", StringType),
      StructField("mode_octal", StringType),
      StructField("uid", LongType),
      StructField("gid", LongType),
      StructField("cmd_mkdir", StringType, nullable = false),
      StructField("cmd_chmod", StringType, nullable = false),
      StructField("cmd_chown", StringType, nullable = false),
    ),
  )

  /** Zone-relative rebase (directories.py:47-63): validate roots, strip the
    * zone prefix from the HDFS root, join each catalog path under it. The
    * plan is catalog-sized, so it is built on the driver from the catalog
    * and the two id maps and returned as a local frame in `seq` order; an
    * owner or group missing from its map gets a null id.
    */
  def planDirectories(
      spark: SparkSession,
      dist: String,
      identitySuffix: String,
      zonePath: String,
      hdfsRoot: String,
      uids: Map[String, Long],
      gids: Map[String, Long],
  ): DataFrame = {
    val sep = "/"
    val zoneRoot = zonePath.replaceAll(s"$sep+$$", "")
    val root = hdfsRoot.replaceAll(s"$sep+$$", "")
    if (root == "/ifs") throw new HdfsRootDirectoryException(root)
    require(root.startsWith(zoneRoot), s"HDFS root $root must live under the zone root $zoneRoot")
    val zoneHdfs = root.substring(zoneRoot.length)

    def id(ids: Map[String, Long], name: String): java.lang.Long = ids.get(name).map(Long.box).orNull
    val dirs = Catalogs.directoriesFor(dist, Catalogs.normalizeSuffix(identitySuffix)).sortBy(_.seq)
    val rows = dirs.map { d =>
      val path = s"$zoneHdfs$sep${d.path.replaceAll("^/+", "")}"
      val mode = Integer.toOctalString(d.mode)
      Row(d.seq, path, d.owner, d.group, mode, id(uids, d.owner), id(gids, d.group),
        s"mkdir $path $mode", s"chmod $mode $path", s"chown ${d.owner}:${d.group} $path")
    }
    spark.createDataFrame(rows.asJava, PlanSchema)
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
