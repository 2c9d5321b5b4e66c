package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The defining dataflow of the reference (SURVEY.md §3.2 step 6): every
  * read tool embeds its result rows and appends them to the vector index;
  * the search tool embeds the query and scans the retained window. This
  * module is that loop, Spark-native: one narrow projection to build the
  * index rows, a date-partitioned append, and a partition-pruned kNN.
  */
object IndexPipeline {

  /** Embed + wrap + append: the `store_in_faiss` leg (`utils.py:25-71` ->
    * `faiss_manager.py:221-252`). `data_json` keeps the full record
    * (dual-fidelity: the index stores full text even when the tool response
    * truncates, `handlers/conversation_handler.py:63-67`).
    *
    * A record whose `textCol` is null embeds its `data_json` instead — the
    * serialized record, which is what the reference embeds (`utils.py:22`)
    * — so no row is ever written with a null embedding.
    *
    * `vec_id` is a 64-bit hash of (`data_type`, `data_json`): the record's
    * content identity, computed per row with no extra job. Ids therefore
    * stay distinct across any number of appends to one index (up to hash
    * collisions), and a record indexed again keeps its id, so a takedown
    * removes every copy.
    */
  def indexRecords(records: DataFrame, textCol: String, dataType: String,
      indexPath: String, ingestDate: java.sql.Date,
      embedder: Embedder = new HashingEmbedder()): Unit = {
    val wrapped = records.select(col(textCol).as("text"),
      to_json(struct(records.columns.map(col): _*)).as("data_json"))
    val rows = wrapped.select(
      xxhash64(lit(dataType), col("data_json")).as("vec_id"),
      embedder.embedCol(coalesce(col("text"), col("data_json"))).as("embedding"),
      lit(dataType).as("data_type"),
      col("data_json"),
      lit(ingestDate).as("ingest_date"))
    VectorIndex.append(rows, indexPath)
  }

  /** The search tool (§3.1): embed the query text driver-side with the SAME
    * embedder, prune the index to the retention window, and run kNN with
    * FAISS-parity output through the configured access path:
    *
    *   spark.graft.serve.index = flat | ivf | ivfpq | sq | opq  (default flat)
    *   spark.graft.serve.nProbe, spark.graft.serve.refineFactor
    *
    * `flat` is the reference-parity brute scan of the retained window
    * (`faiss_manager.py:143` only ever instantiates IndexFlatL2). `ivf` /
    * `ivfpq` / `sq` / `opq` serve from the [[ServeIndex]] sidecar — probe-pruned
    * sealed days + the brute hot day — and FALL BACK to the flat scan whenever the
    * sidecar can't answer this request correctly (absent, mid-rebuild,
    * wrong kind, or an `asOf` before its watermark): the config can only
    * trade speed, never correctness.
    *
    * Retention is ALWAYS applied — the reference's search never scans more
    * than the retained day-indexes (`faiss_manager.py:91-99,270-272`).
    * When no `asOf` is given the anchor defaults to the index's newest
    * ingest day (a directory listing, no data read), so the scan is
    * partition-pruned to ≤ `VectorIndex.RetentionDays` directories however
    * large the index has grown.
    */
  def searchIndex(spark: SparkSession, indexPath: String, queryText: String,
      k: Int = 10, asOf: java.sql.Date = null,
      embedder: Embedder = new HashingEmbedder()): DataFrame = {
    val qv = embedder.embedText(queryText).toSeq
    val mode = spark.conf.get("spark.graft.serve.index", "flat")
    val served =
      if (mode == "flat") None
      else ServeIndex.search(spark, indexPath, mode, qv, k,
        nProbe = spark.conf.get("spark.graft.serve.nProbe", "2").toInt,
        refineFactor = spark.conf.get("spark.graft.serve.refineFactor", "4").toInt,
        asOf = asOf)
    served.getOrElse {
      val anchor = Option(asOf).orElse(VectorIndex.maxIngestDate(spark, indexPath))
      val idx = anchor match {
        case Some(d) => VectorIndex.loadRecent(spark, indexPath, d)
        case None => // empty/legacy layout: nothing to prune; deletes still honored
          VectorIndex.dropTombstoned(spark, indexPath, spark.read.parquet(indexPath))
      }
      VectorIndex.search(idx, qv, k)
    }
  }

  /** Rebuild the ANN serving sidecar for `searchIndex`'s ivf/ivfpq modes —
    * the periodic re-index job. See [[ServeIndex.build]].
    */
  def buildServeIndex(spark: SparkSession, indexPath: String, kind: String,
      nCells: Int = 8, asOf: java.sql.Date = null): Unit =
    ServeIndex.build(spark, indexPath, kind, nCells = nCells, asOf = asOf)

  /** Batch search: top-k hits for EVERY query text at once — N queries is
    * one distributed job, not N driver round-trips. Queries embed as a
    * map-only column (same embedder expression the ingest leg uses), the
    * retained window loads once, and the per-query top-k is the bounded
    * native aggregate (`TopKAggregator`) over one crossJoin — the
    * brute-force twin of the IVF knnJoin, correct at any corpus size and
    * the right plan while the retained window is the 7-day index the
    * reference scans. Output: (query_id, rank, similarity_score,
    * data_type, data_json).
    */
  def searchIndexBatch(spark: SparkSession, indexPath: String, queries: DataFrame,
      k: Int = 10, asOf: java.sql.Date = null,
      embedder: Embedder = new HashingEmbedder()): DataFrame = {
    import graft.functions.VectorFunctions._
    val qEmbedded = queries.select(col("query_id"),
      embedder.embedCol(col("query_text")).as("q_emb"))
    // same access-path config as searchIndex — the sidecar answers the
    // batch through one cell equi-join (ADC codes-only on the pq kind)
    // plus the brute hot arm, or the flat scan serves as always
    val mode = spark.conf.get("spark.graft.serve.index", "flat")
    val served =
      if (mode == "flat") None
      else ServeIndex.searchBatch(spark, indexPath, mode, qEmbedded, k,
        nProbe = spark.conf.get("spark.graft.serve.nProbe", "2").toInt,
        refineFactor = spark.conf.get("spark.graft.serve.refineFactor", "4").toInt,
        asOf = asOf)
    if (served.isDefined) return served.get
    val anchor = Option(asOf).orElse(VectorIndex.maxIngestDate(spark, indexPath))
    val idx = anchor match {
      case Some(d) => VectorIndex.loadRecent(spark, indexPath, d)
      case None =>
        VectorIndex.dropTombstoned(spark, indexPath, spark.read.parquet(indexPath))
    }
    val q = qEmbedded
    val corpus = idx.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), col("data_type"), col("data_json"))
    q.crossJoin(corpus)
      .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), (-col("col.value")).as("d2"))
      // dropDuplicates: a record re-ingested on several ingest_dates keeps
      // its vec_id (and its payload) and must not fan the rank join out into
      // duplicate (query_id, rank) rows — the single-query path carries its
      // payload through the top-k without a join, so this keeps batch ≡
      // N-singles.
      .join(corpus.select(col("vec_id"), col("data_type"), col("data_json"))
        .dropDuplicates("vec_id"), "vec_id")
      .select(col("query_id"), col("rank"),
        faissSimilarity(col("d2")).as("similarity_score"),
        col("data_type"), col("data_json"))
      .orderBy(col("query_id"), col("rank"))
  }
}
