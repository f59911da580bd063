package graft.risk

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Warehouse DDL + persisted-table hand-off (S3/S4/S7) — the reference's
 * notebook workflow materializes each stage as a managed table and the
 * next notebook re-reads it:
 *
 *  - `config/configure_notebook.py:17-27`: `CREATE DATABASE IF NOT EXISTS
 *    {name} LOCATION '{path}'`, `USE {name}`, and a `teardown()` that
 *    drops the database cascade;
 *  - `03_var_monte_carlo.py:147-162`: write `monte_carlo_trials`,
 *    `OPTIMIZE ... ZORDER BY (date, ticker)`;
 *  - `04_var_aggregation.py:13`, `05_var_compliance.py:23,46`: re-read.
 *
 * Tables are parquet (there is no Delta here), written by [[saveTable]]
 * range-clustered on their cluster keys — the ZORDER intent: readers
 * filtering on a cluster key can skip files from parquet min/max stats.
 * That includes timestamp keys such as the trials table's `date`:
 * [[saveTable]] writes timestamps as INT64 micros, which carry statistics,
 * where Spark's default INT96 carries none. Pages are written
 * uncompressed: the trials table is random doubles, which snappy does not
 * shrink, so compression only adds a decompression to every read. Table
 * names normally come from
 * `application.yaml`'s `database.tables` map
 * ([[Configs.AppConfig.tables]]).
 */
object Warehouse {

  /** `CREATE DATABASE IF NOT EXISTS name LOCATION path` + `USE name`. */
  def createAndUse(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name` LOCATION '$path'")
    spark.sql(s"USE `$name`")
  }

  /** The reference's `teardown()`: drop the database and everything in it. */
  def teardown(spark: SparkSession, name: String): Unit = {
    spark.sql("USE default")
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
  }

  /** Teardown + delete the location files: an in-memory catalog dropped
   * with the JVM leaves managed-table files behind, which a later
   * `saveAsTable` refuses to overwrite — this makes re-runs idempotent
   * (the reference's `teardown()` pairs the DROP with `dbutils.fs.rm`). */
  def reset(spark: SparkSession, name: String, path: String): Unit = {
    teardown(spark, name)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /**
   * Materialize a stage result as a managed parquet table, clustered on
   * `clusterCols` (the ZORDER replacement): range-partition + sort, write
   * to the database location, register the table over the files.
   *
   * Timestamps are written as parquet INT64 `TIMESTAMP_MICROS`, not
   * Spark's default INT96, so a timestamp cluster key (the trials table's
   * `date`) keeps min/max statistics and a filter on it skips the files
   * outside its range. Only the session setting
   * `spark.sql.parquet.outputTimestampType` selects the type (a per-write
   * option does not), so it is set for this write alone and restored
   * afterwards, also when the write fails. Pages are written uncompressed.
   */
  def saveTable(spark: SparkSession, df: DataFrame, table: String,
      clusterCols: Seq[String], numFiles: Int = 20): Unit = {
    import org.apache.spark.sql.functions.col
    val sorted = df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    val key = "spark.sql.parquet.outputTimestampType"
    val previous = spark.conf.getAll.get(key) // set explicitly, not defaulted
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try sorted.write.mode("overwrite").format("parquet")
      .option("compression", "none").saveAsTable(table)
    finally previous match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Re-read a persisted stage table (the next notebook's first line). */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /**
   * Bucketed managed table: co-locates rows by `hash(bucketCols) % n` at
   * WRITE time, so later equi-joins and aggregations on the bucket keys
   * run exchange-free — the shuffle is paid once at ingest instead of
   * per query. This is the parquet/catalog equivalent of Delta's
   * clustered layout for the reference's re-read-heavy workflow: two
   * tables bucketed the same way join with zero Exchange in the plan
   * (see WarehouseSpec's plan assertion). Sorting within buckets also
   * lets sort-merge join skip its sort.
   */
  def saveBucketedTable(spark: SparkSession, df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int = 16): Unit = {
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /**
   * MERGE INTO replacement for parquet tables: upsert `updates` into
   * `table` by `keys`, latest `versionCol` wins (updates shadow existing
   * rows at equal version). Copy-on-write like Delta without a log:
   * union + latest-per-key + table rewrite — one shuffle on the keys.
   *
   * The new contents derive from the files being replaced, so the merge
   * is STAGED: written to a `<table>__upsert_staging` table first, then
   * copied over the target from those staged files, then the staging
   * table is dropped. At no point does the only copy of the merged data
   * live in volatile executor memory (a `localCheckpoint` spelling would
   * lose the table if an executor died mid-overwrite); a crash between
   * the two writes leaves the staging table on disk for recovery.
   *
   * `updates` must be key-unique at each version: two update rows with
   * the same (keys, versionCol) tie in the latest-per-key rank and which
   * survives is nondeterministic — dedupe upstream if that can occur.
   */
  def upsertTable(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], versionCol: String,
      clusterCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val current = spark.table(table).withColumn("__src", lit(0))
    val merged = graft.data.Relational.topKPerGroup(
        current.unionByName(updates.withColumn("__src", lit(1))),
        keys, Seq(col(versionCol).desc, col("__src").desc), k = 1,
        rankCol = "__rank")
      .drop("__rank", "__src")
    val staging = table + "__upsert_staging"
    val cluster = if (clusterCols.nonEmpty) clusterCols else keys
    saveTable(spark, merged, staging, cluster)
    saveTable(spark, spark.table(staging), table, cluster)
    // quote each identifier part separately: backticking the whole name
    // would turn a qualified db.tbl staging name into a literal lookup
    // that silently no-ops and leaks the staging table
    spark.sql(s"DROP TABLE IF EXISTS ${quoteParts(staging)}")
  }

  /** `db.tbl` → `` `db`.`tbl` `` (each part quoted separately). */
  private def quoteParts(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")
}
