package graft

import org.apache.spark.sql.SparkSession

/** The pure-SQL front door: everything the engine does is reachable with
  * `spark.sql(...)` alone after one registration call — the surface a
  * BI tool, a notebook user, or a JDBC gateway actually consumes.
  *
  *  - [[registerTables]] publishes the ten driver testdata tables as
  *    temp views (through [[Tables]], so the events-ts normalization
  *    and every pushdown property hold for SQL users too) and the
  *    native function kernels (`cosine_similarity`, `graft_poly_hash`,
  *    ...). Cluster sessions built from config get the functions plus
  *    the range-join rule via
  *    `spark.sql.extensions=graft.functions.GraftExtensions` instead.
  *  - [[registerQueryView]] publishes any declared query's result as a
  *    `graft_<name>` temp view. Temp views store the LOGICAL plan —
  *    nothing materializes until the view is queried, and Catalyst
  *    prunes/pushes through the view boundary, so
  *    `SELECT window_end FROM graft_rolling_active_users WHERE ...`
  *    plans exactly like the DataFrame expression would.
  *
  *  - [[registerPersistent]] lifts the same surface into the session
  *    CATALOG (`CREATE OR REPLACE VIEW graft.<table>`), so a second
  *    session or a JDBC/Thrift gateway serves without re-registration;
  *    [[materializeQuery]] publishes a declared query's RESULT there as
  *    a real table (the nightly-summary pattern).
  *
  * SqlSpec proves all of it: a raw-SQL ANN query over the registered
  * views matches the `cosine_topk` DataFrame result, a view-wrapped
  * declared query is byte-identical to its direct run, and a FRESH
  * session (no registration calls) reads the persistent catalog.
  */
object Sql {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
  )

  /** Idempotent: re-registration replaces the views in place. */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    TableNames.foreach { n =>
      val df = n match {
        case "events" => Tables.events(spark, sfDir)
        case other => Tables.table(spark, sfDir, other)
      }
      df.createOrReplaceTempView(n)
    }
  }

  /** Publish one declared query as temp view `graft_<name>`; returns the
    * view name. The plan is stored lazily (a handful of queries that
    * collect bounded probe/moment tables at construction pay that
    * bounded cost here, as they would on any reference).
    */
  def registerQueryView(spark: SparkSession, sfDir: String, name: String): String = {
    val view = s"graft_$name"
    SparkEntry.queries(name)(spark, sfDir).createOrReplaceTempView(view)
    view
  }

  /** Persistent-catalog registration — the BI-servable tier above
    * [[registerTables]]'s session views: `CREATE OR REPLACE VIEW` DDL
    * over the parquet paths in a named database of the SESSION CATALOG,
    * so any OTHER session sharing the catalog (a `newSession()`, a JDBC/
    * Thrift gateway handler, a second notebook) queries
    * `<database>.<table>` with ZERO re-registration. Views store SQL
    * text in the catalog — still zero data copied, and Catalyst prunes/
    * pushes through the view boundary exactly as with temp views.
    *
    * The events `ts` normalization (the driver testdata's three
    * timestamp encodings — see [[Tables.events]]) is compiled INTO the
    * view text by inspecting the parquet schema once here, so catalog
    * readers get the same plain-TIMESTAMP surface the Scala API serves.
    *
    * Durability matches the catalog backing: in-memory catalog → the
    * JVM's lifetime (every co-hosted session); Hive/derby metastore →
    * across restarts. The DDL is identical either way, which is the
    * point — this is the standard warehouse publication path, not a
    * private mechanism.
    */
  def registerPersistent(
      spark: SparkSession,
      sfDir: String,
      database: String = "graft",
  ): Unit = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    TableNames.foreach { n =>
      val path = s"$sfDir/$n.parquet"
      val projection =
        if (n != "events") "*"
        else
          spark.read.parquet(path).schema.fields.map { f =>
            if (f.name == "ts") Tables.eventsTs(f.dataType).fold(f.name)(e => s"$e AS ts") else f.name
          }.mkString(", ")
      spark.sql(
        s"CREATE OR REPLACE VIEW $database.$n AS SELECT $projection FROM parquet.`$path`")
    }
  }

  /** Publish one declared query into the persistent catalog as a
    * MATERIALIZED table `<database>.graft_<name>` (`saveAsTable`,
    * overwrite) — the nightly-summary-table pattern. A persistent VIEW
    * cannot hold an arbitrary DataFrame plan (views store SQL text), so
    * cross-session publication of a query result is a materialization
    * by nature; re-run to refresh. Returns the qualified table name.
    */
  def materializeQuery(
      spark: SparkSession,
      sfDir: String,
      name: String,
      database: String = "graft",
  ): String = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    val table = s"$database.graft_$name"
    SparkEntry
      .queries(name)(spark, sfDir)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(table)
    table
  }
}
