package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: the co-located-join path for repeated big
  * joins (SURVEY §"Partitioning & shuffle").
  *
  * Writing both sides bucketed+sorted on the join key makes every
  * subsequent equi-join on that key shuffle-free AND sort-free: the scan
  * reports the bucket partitioning, so SortMergeJoin consumes the files
  * directly. At 100 TB this converts the fact⋈fact join from the
  * dominant network cost to a local merge — pay the bucketing once at
  * ingest, reuse it every query. (Bucket count is a layout decision:
  * aim for bucket files in the 100 MB-1 GB range at target scale.)
  */
object Bucketing {

  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Seq.empty): Unit = {
    val sorted = if (sortCols.isEmpty) bucketCols else sortCols
    val Array(db, tbl) =
      if (table.contains(".")) table.split("\\.", 2) else Array("default", table)
    graft.pipeline.Cleanup.ensureWritable(df.sparkSession, db, tbl)
    df.write
      .mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sorted.head, sorted.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** True when the executed plan of `df` contains no shuffle exchange —
    * the observable guarantee bucketing buys.
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Idempotent bucketed ingest — the R5 caching contract applied to
    * layout: "pay the bucketing once at ingest, reuse it every query"
    * only holds if re-running the pipeline over the SAME landed inputs
    * skips the rewrite. Validity key = the caller's source tag (e.g.
    * the input directory) plus the frame's schema, stored in
    * TBLPROPERTIES — a new input path, or a code change that alters the
    * projected schema, forces a rewrite; anything else reuses the
    * files. (Same-path-different-data is out of scope by the landing
    * contract: landed directories are immutable snapshots.)
    */
  // layouts already validated THIS application (appId|table → validity
  // key): a repeated ensure call in a hot loop must cost zero catalog
  // roundtrips (tableExists + SHOW TBLPROPERTIES are driver-side
  // metastore queries, ~100 ms each on a busy catalog). Safe because a
  // table the application itself validated cannot drift mid-run — the
  // landing contract makes source dirs immutable and graft is the only
  // writer of its layout tables.
  private val validated =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // sortCols is part of the layout contract: a caller changing the
  // sort order MUST get a rewrite, or the table keeps its stale order
  // and the sort-free merge silently degrades to sort-merge. The key
  // derives from the PLAN's schema only — computing it never runs a job.
  private def layoutKey(
      df: DataFrame, buckets: Int, bucketCols: Seq[String],
      srcTag: String, sortCols: Seq[String]): String =
    s"$srcTag|b=$buckets|k=${bucketCols.mkString(",")}" +
      s"|s=${sortCols.mkString(",")}|${df.schema.catalogString}"

  private def propsCurrent(
      spark: SparkSession, table: String, key: String): Boolean =
    spark.catalog.tableExists(table) && {
      val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      props.get("graft.src").contains(key)
    }

  def ensureBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      bucketCols: Seq[String],
      srcTag: String,
      sortCols: Seq[String] = Seq.empty): Unit = {
    val spark = df.sparkSession
    val key = layoutKey(df, buckets, bucketCols, srcTag, sortCols)
    val memoKey = s"${spark.sparkContext.applicationId}|$table"
    if (validated.get(memoKey) == key) return
    if (!propsCurrent(spark, table, key)) {
      writeBucketed(df, table, buckets, bucketCols, sortCols)
      val escaped = key.replace("'", "''")
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES('graft.src'='$escaped')")
    }
    validated.put(memoKey, key)
    ()
  }
}
