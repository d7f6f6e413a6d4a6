package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{Naming => Names}

/** Table publishing strategies (K5, pipeline.py:672-745): the SDE
  * truncate-and-load / replace / append semantics mapped 1:1 onto Spark
  * managed-table writes.
  *
  * Scale note: truncate-and-load is `INSERT OVERWRITE` (dynamic file
  * replacement, no row-by-row delete); replace recreates metadata; append
  * is an additive file commit. All three are metadata + file ops — no
  * shuffle beyond what the input plan carries.
  */
object Publish {

  /** Spark-safe namespace for an SDE dataset: `GNG.Underlag_SKS` →
    * database `gng_underlag_sks`.
    */
  def datasetDb(sdeDataset: String): String =
    Names.sanitizeForArcgisName(sdeDataset.replace('.', '_')).toLowerCase

  /** The (database, table) an SDE dataset and feature class publish to. */
  def target(sdeDataset: String, sdeFc: String): (String, String) =
    (datasetDb(sdeDataset), Names.sanitizeSdeName(sdeFc).toLowerCase)

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  def tableExists(spark: SparkSession, db: String, table: String): Boolean =
    spark.catalog.tableExists(s"`$db`.`$table`")

  /** Returns rows written. Strategy ∈ {truncate_and_load, replace, append}. */
  def publish(
      spark: SparkSession,
      df: DataFrame,
      sdeDataset: String,
      sdeFc: String,
      strategy: String = "truncate_and_load"): Long = {
    val (db, table) = target(sdeDataset, sdeFc)
    val fqn   = s"`$db`.`$table`"
    ensureDatabase(spark, db)
    Cleanup.ensureWritable(spark, db, table) // orphan-location guard (R8)
    strategy match {
      case "truncate_and_load" =>
        if (tableExists(spark, db, table)) {
          // TruncateTable + Append(NO_TEST) ≡ INSERT OVERWRITE by position
          // into the existing schema (pipeline.py:685-697).
          df.write.mode("overwrite").insertInto(fqn)
        } else {
          df.write.saveAsTable(fqn) // create path (pipeline.py:729-745)
        }
      case "replace" =>
        spark.sql(s"DROP TABLE IF EXISTS $fqn") // pipeline.py:698-716
        df.write.saveAsTable(fqn)
      case "append" =>
        df.write.mode("append").saveAsTable(fqn) // pipeline.py:717-725
      case other =>
        throw new IllegalArgumentException(s"unknown sde_load_strategy '$other'")
    }
    spark.table(fqn).count() // GetCount verification (pipeline.py:640-647)
  }

  /** Publish a feature frame as a `graft-rest` applyEdits session (the
    * reference's REST upload path, `sde_loader`-style edit batching) —
    * an atomic two-phase-commit spool: see
    * [[graft.sources.v2.RestWriteBuilder]]. `overwrite` truncates the
    * previous session (truncate-and-load); append adds to it.
    */
  def publishRestEdits(
      df: DataFrame,
      spoolDir: String,
      overwrite: Boolean = true): Unit =
    df.write.format("graft-rest")
      .mode(if (overwrite) "overwrite" else "append")
      .save(spoolDir)
}
