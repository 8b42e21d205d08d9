package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Catalog lifecycle over a parquet warehouse directory — the Spark-native
  * form of the reference's `setup/` package: the four medallion databases
  * created in dependency order (logs first, `create_schemas.py:347-351`),
  * existence checks, and drop in reverse order
  * (`create_schemas.py:399`: gold → silver → bronze → logs).
  */
final class WarehouseCatalog(spark: SparkSession, warehouseDir: String) {

  val databases: Seq[String] = Seq("logs", "bronze", "silver", "gold")

  private def q(db: String) = s"graft_$db" // namespaced to avoid collisions

  def createDatabases(): Unit = databases.foreach { db =>
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS ${q(db)} COMMENT '$db medallion layer' " +
        s"LOCATION '$warehouseDir/${db}.db'")
  }

  def databaseExists(db: String): Boolean = spark.catalog.databaseExists(q(db))

  def tableExists(db: String, table: String): Boolean =
    spark.catalog.tableExists(s"${q(db)}.$table")

  def saveTable(db: String, table: String, df: DataFrame, mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).format("parquet").saveAsTable(s"${q(db)}.$table")

  def readTable(db: String, table: String): DataFrame =
    spark.table(s"${q(db)}.$table")

  /** The database's own tables: Spark lists the session's temp views under
    * every database too, and those are no layer's tables (reading one as
    * `db.view` fails).
    */
  def listTables(db: String): Seq[String] =
    spark.catalog.listTables(q(db)).collect().filterNot(_.isTemporary).map(_.name).toSeq

  /** Column introspection (reference catalog metadata queries,
    * sql/query_builder.py:390-567: information_schema.columns).
    */
  def listColumns(db: String, table: String): Seq[(String, String, Boolean)] =
    spark.catalog.listColumns(s"${q(db)}.$table").collect()
      .map(c => (c.name, c.dataType, c.nullable)).toSeq

  /** Table statistics via ANALYZE + DESCRIBE EXTENDED (the reference's
    * pg_stat-based table stats; in Spark these also feed the CBO).
    */
  def tableStats(db: String, table: String): Map[String, String] = {
    spark.sql(s"ANALYZE TABLE ${q(db)}.$table COMPUTE STATISTICS")
    spark.sql(s"DESCRIBE TABLE EXTENDED ${q(db)}.$table").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }

  /** ALTER TABLE ADD COLUMNS (reference sql/ddl.py:347-385). */
  def addColumns(db: String, table: String, columns: Seq[(String, String)]): Unit =
    spark.sql(
      s"ALTER TABLE ${q(db)}.$table ADD COLUMNS (" +
        columns.map { case (n, t) => s"`$n` $t" }.mkString(", ") + ")")

  /** Layer analysis (reference `sql/common_queries.py:63-110`
    * analyze_medallion_layer): per-table row counts and column counts for a
    * medallion database — metadata-sized driver loop, one count job per
    * table.
    */
  def analyzeMedallionLayer(db: String): DataFrame = {
    import spark.implicits._
    listTables(db)
      .map { t =>
        val df = readTable(db, t)
        (db, t, df.count(), df.columns.length)
      }
      .toDF("layer", "table_name", "n_rows", "n_columns")
  }

  /** Save a table bucketed+sorted by join keys: two tables bucketed the same
    * way join with ZERO shuffle (the Spark replacement for the reference's
    * BTREE indexes on join columns, and the core co-location lever at
    * 100 TB — the shuffle is paid once at write, not per query).
    */
  def saveBucketed(
      db: String,
      table: String,
      df: DataFrame,
      bucketCols: Seq[String],
      numBuckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(s"${q(db)}.$table")

  /** Reverse-order teardown (gold first), as the reference's rollback. */
  def dropDatabases(): Unit = databases.reverse.foreach { db =>
    spark.sql(s"DROP DATABASE IF EXISTS ${q(db)} CASCADE")
  }
}
