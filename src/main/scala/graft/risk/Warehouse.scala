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
 * Tables are parquet (there is no Delta here), written by [[saveTable]],
 * the one writer, in a layout Spark itself can use — the ZORDER intent:
 *
 *  - **Bucketed on the leading cluster key.** Rows are hashed on
 *    `clusterCols.head` into `numFiles` buckets, one file per non-empty
 *    bucket, sorted on all of `clusterCols` within it. A read reports the
 *    scan as hash-partitioned on that key, so a group-by or join whose keys
 *    include it (every VaR slice groups on `date` first) plans no exchange:
 *    the exchange is paid once, at write, not once per query.
 *  - **Point filters open one file.** An equality or `IN` filter on the
 *    leading key prunes the scan to the buckets its values hash to; the
 *    other files are not opened, footers included. A range filter on it
 *    skips no file, since every bucket spans the key's whole range (no
 *    reader of these tables filters on a range).
 *  - **INT64 timestamps.** Timestamps are written as INT64 micros, which
 *    carry min/max statistics, where Spark's default INT96 carries none.
 *  - **Uncompressed pages.** Snappy does not shrink the trials' random
 *    doubles, so it would only add a decompression to every read.
 *
 * Table names normally come from `application.yaml`'s `database.tables`
 * map ([[Configs.AppConfig.tables]]).
 */
object Warehouse {

  private val DefaultBuckets = 20 // saveTable's, when the caller names none

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
   * Materialize a stage result as a managed parquet table in the layout
   * above: `numFiles` buckets on `clusterCols.head`, sorted on
   * `clusterCols`. The exchange on the leading key puts each bucket in one
   * write task, so each non-empty bucket is one file. Only the session
   * setting `spark.sql.parquet.outputTimestampType` selects the timestamp
   * type (a per-write option does not), so it is set for this write alone
   * and restored afterwards, also when the write fails.
   */
  def saveTable(spark: SparkSession, df: DataFrame, table: String,
      clusterCols: Seq[String], numFiles: Int = DefaultBuckets): Unit = {
    import org.apache.spark.sql.functions.col
    val bucketed = df.repartition(numFiles, col(clusterCols.head))
    val key = "spark.sql.parquet.outputTimestampType"
    val previous = spark.conf.getAll.get(key) // set explicitly, not defaulted
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try bucketed.write.mode("overwrite").format("parquet").option("compression", "none")
      .bucketBy(numFiles, clusterCols.head).sortBy(clusterCols.head, clusterCols.tail: _*)
      .saveAsTable(table)
    finally previous match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Re-read a persisted stage table (the next notebook's first line). */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /**
   * MERGE INTO replacement for parquet tables: upsert `updates` into
   * `table` by `keys`, latest `versionCol` wins (updates shadow existing
   * rows at equal version). Copy-on-write like Delta without a log: the
   * latest row per key of table ∪ updates is rewritten as the whole table,
   * in the bucket count and cluster columns it had (`keys` and the default
   * count for a table [[saveTable]] did not write).
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
      keys: Seq[String], versionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val (cluster, buckets) = layoutOf(spark, table).getOrElse((keys, DefaultBuckets))
    val current = spark.table(table).withColumn("__src", lit(0))
    val merged = graft.data.Relational.topKPerGroup(
        current.unionByName(updates.withColumn("__src", lit(1))),
        keys, Seq(col(versionCol).desc, col("__src").desc), k = 1,
        rankCol = "__rank")
      .drop("__rank", "__src")
    val staging = table + "__upsert_staging"
    saveTable(spark, merged, staging, cluster, buckets)
    saveTable(spark, spark.table(staging), table, cluster, buckets)
    // quote each identifier part separately: backticking the whole name
    // would turn a qualified db.tbl staging name into a literal lookup
    // that silently no-ops and leaks the staging table
    spark.sql(s"DROP TABLE IF EXISTS ${quoteParts(staging)}")
  }

  /** The cluster columns and bucket count of a bucketed `table`, as
   * [[saveTable]] takes them: the bucket column first. */
  private def layoutOf(spark: SparkSession, table: String): Option[(Seq[String], Int)] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(table)).bucketSpec
      .map(b => ((b.bucketColumnNames ++ b.sortColumnNames).distinct, b.numBuckets))
  }

  /** `db.tbl` → `` `db`.`tbl` `` (each part quoted separately). */
  private def quoteParts(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")
}
