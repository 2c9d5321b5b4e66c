package graft.vector

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The vector-store subsystem: Spark-native replacement for the reference's
  * per-day FAISS index files (`faiss_manager.py`).
  *
  * Reference model: parallel in-memory arrays (one `IndexFlatL2` + one
  * metadata JSON per ingest day, `faiss_manager.py:26-27,41-61`), retention
  * of the 7 most recent days (`:91-104`), full-file rewrite on every append
  * (`:248-250`).
  *
  * Spark model: ONE DataFrame `(vec_id, embedding, data_type, data_json,
  * extras, ingest_date)` persisted as parquet partitioned by `ingest_date`.
  *  - append = `write.mode(Append).partitionBy("ingest_date")` — no rewrite
  *    amplification;
  *  - "load only recent days" = a partition-pruning predicate (Catalyst
  *    prunes directories, so a 7-day query touches 7/∞ of the data at any
  *    scale);
  *  - index/metadata positional drift (FAISS's parallel-array hazard,
  *    `faiss_manager.py:278-285`) is impossible: vector and metadata live in
  *    the same row.
  */
object VectorIndex {

  val RetentionDays = 7 // faiss_manager.py:15 max_days default

  /** S10/S12: append a batch of (embedding, metadata) rows to the index. */
  def append(batch: DataFrame, indexPath: String): Unit =
    batch.write.mode(SaveMode.Append).partitionBy("ingest_date").parquet(indexPath)

  /** The tombstone log lives as a SIBLING of the index root: anything
    * inside the root would enter partition discovery (the layout's
    * directories are the partition values themselves).
    */
  private def tombstonePath(indexPath: String): String =
    indexPath.stripSuffix("/") + "._tombstones"

  /** Point deletes — the takedown/GDPR path the reference lacks entirely
    * (its only removal is whole-day retention, `faiss_manager.py:151-172`).
    * Same Lucene-style contract as the IVF/LSH/inverted/phash tiers: ids
    * append to a log, every serve path anti-joins it (bounded by
    * deletes-since-compaction, broadcast), `compact` folds it into the
    * layout. Deleting a vec_id removes EVERY copy (a record re-ingested on
    * several days dies everywhere — the semantics a takedown wants).
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit = {
    graft.sources.CompactSwap.recoverAllHidden(spark, indexPath)
    ids.select(col("vec_id")).write.mode(SaveMode.Append)
      .parquet(tombstonePath(indexPath))
  }

  private[vector] def tombstones(spark: SparkSession, indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstonePath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(p.toString).select(col("vec_id")).distinct())
    else None
  }

  private[vector] def dropTombstoned(spark: SparkSession, indexPath: String,
      df: DataFrame): DataFrame =
    tombstones(spark, indexPath) match {
      case Some(t) => df.join(broadcast(t), Seq("vec_id"), "left_anti")
      case None => df
    }

  /** Fold the tombstone log into the layout — rewriting ONLY the dirty
    * ingest-day directories (found by one column-pruned scan of
    * (vec_id, ingest_date)), each through the hidden-sibling crash-safe
    * swap; the log drops last. At 100 TB a handful of days rewrite, the
    * rest of the layout is untouched.
    */
  def compact(spark: SparkSession, indexPath: String): Unit = {
    graft.sources.CompactSwap.recoverAllHidden(spark, indexPath)
    val ts = tombstones(spark, indexPath) match {
      case Some(t) => t.localCheckpoint(true)
      case None => return
    }
    val dirtyDays = spark.read.parquet(indexPath)
      .select(col("vec_id"), col("ingest_date"))
      .join(broadcast(ts), "vec_id")
      .select(date_format(col("ingest_date"), "yyyy-MM-dd")).distinct()
      .collect().map(_.getString(0))
    dirtyDays.foreach { day =>
      graft.sources.CompactSwap.rewriteHidden(spark, indexPath, s"ingest_date=$day") { fresh =>
        // reading the day directory directly drops the (directory-encoded)
        // partition column; the rewrite lands under the same dir name, so
        // discovery re-derives it
        spark.read.parquet(s"$indexPath/ingest_date=$day")
          .join(broadcast(ts), Seq("vec_id"), "left_anti")
          .write.mode(SaveMode.ErrorIfExists).parquet(fresh)
      }
    }
    val p = new org.apache.hadoop.fs.Path(tombstonePath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** S11 load-side: only the `maxDays` daily partitions in `(asOf−maxDays,
    * asOf]`, as a pruning predicate (reference reloads recent files,
    * `faiss_manager.py:91-99`). The upper bound makes `asOf` a real
    * time-travel anchor: re-anchoring into the past excludes later-ingested
    * partitions too, not just expired ones. Tombstoned ids anti-join out
    * AFTER the pruning filter, so the scan keeps its PartitionFilters.
    */
  def loadRecent(spark: SparkSession, indexPath: String, asOf: java.sql.Date,
      maxDays: Int = RetentionDays): DataFrame = {
    graft.sources.CompactSwap.recoverAllHidden(spark, indexPath)
    dropTombstoned(spark, indexPath,
      spark.read.parquet(indexPath)
        .filter(col("ingest_date") > date_sub(lit(asOf), maxDays) &&
          col("ingest_date") <= lit(asOf)))
  }

  /** Newest ingest day present in the index layout. Directory-listing only
    * (partition names, no data read) — the same metadata-cost contract as
    * `retain`, so deriving the default retention anchor is free at 100 TB.
    */
  def maxIngestDate(spark: SparkSession, indexPath: String): Option[java.sql.Date] = {
    import org.apache.hadoop.fs.Path
    graft.sources.CompactSwap.recoverAllHidden(spark, indexPath)
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // driver-side metadata IO rides the transient-retry policy — one
    // throttled listStatus against object storage must not fail the query
    // (graft.sources.RetryingIO: the reference connector's 3×-backoff
    // contract; Spark only retries EXECUTOR-side task IO)
    graft.sources.RetryingIO.withRetry(s"maxIngestDate($indexPath)") {
      if (!fs.exists(root)) None
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_date="))
        .map(st => java.time.LocalDate.parse(st.getPath.getName.stripPrefix("ingest_date=")))
        .maxOption
        .map(java.sql.Date.valueOf)
    }
  }

  /** S11 delete-side: physically drop partitions older than the window
    * (reference: `_remove_old_indexes`, `faiss_manager.py:151-172`).
    *
    * Uses the Hadoop FileSystem API, so it works identically on local FS,
    * HDFS, and S3A — the 100-TB deployment targets. Cost is one directory
    * listing of the index root (partition names only, no data read).
    */
  def retain(spark: SparkSession, indexPath: String, asOf: java.sql.Date,
      maxDays: Int = RetentionDays): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val cutoff = asOf.toLocalDate.minusDays(maxDays)
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val dropped = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_date="))
      .filter { st =>
        val day = java.time.LocalDate.parse(st.getPath.getName.stripPrefix("ingest_date="))
        !day.isAfter(cutoff)
      }
    dropped.foreach(st => fs.delete(st.getPath, true))
    dropped.map(_.getPath.getName)
  }

  /** The reference's search (`faiss_manager.py:254-296` + `utils.py:100-108`):
    * kNN over the retained window with FAISS-parity output
    * `{rank, similarity_score, data_type, data_json}` — similarity is the
    * verbatim `1 - d/2` on squared L2. Per-partition top-k + global merge is
    * Spark's TakeOrderedAndProject, the exact analog of the reference's
    * per-index search + merge loop. Rows with a null embedding (written by
    * older ingests for records whose text column was null) have no
    * distance and are skipped.
    */
  def search(index: DataFrame, query: Seq[Float], k: Int = 10): DataFrame = {
    val q = lit(query.toArray)
    index
      .filter(col("embedding").isNotNull)
      .withColumn("d2", l2Sq(col("embedding"), q))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("d2"), col("vec_id"))).cast("long"))
      .select(col("rank"), faissSimilarity(col("d2")).as("similarity_score"),
        col("data_type"), col("data_json"))
  }

  /** Build an index frame from the `embeddings` fixture: synthetic ingest
    * dates spread over >7 days exercise retention + pruning (FIXTURES.md).
    */
  def fromEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"), col("embedding"),
      lit("embedding").as("data_type"),
      to_json(struct(col("vec_id"), col("label"))).as("data_json"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("vec_id") % 10).cast("int")).as("ingest_date"))

  /** Oracle-checkable form of load-prune + count per retained day. */
  def pruneStats(embeddings: DataFrame): DataFrame = {
    val idx = fromEmbeddings(embeddings)
    val maxDate = idx.agg(max(col("ingest_date")).as("mx"))
    idx.crossJoin(broadcast(maxDate))
      .filter(col("ingest_date") > date_sub(col("mx"), RetentionDays))
      .groupBy(col("ingest_date"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .select(date_format(col("ingest_date"), "yyyy-MM-dd").as("ingest_day"),
        col("n_vectors"), col("min_vec_id"))
      .orderBy(col("ingest_day"))
  }
}
