package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * These play the role of the reference's remote CRM scans
  * (`clients/company_client.py:31-65`, `clients/ticket_client.py:148-253`):
  * instead of a REST search API, every source is a columnar table and
  * predicate/projection/limit pushdown is native Catalyst -> Parquet.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Settings that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Inferred schema per table path, with the fingerprint it was inferred
    * under. `spark.read.parquet` infers by reading footers in a one-task
    * Spark job on every call, and a read tool loads up to five tables, so
    * inferring once per table version removes that many jobs per call.
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** The table's schema: inferred on the first load and again whenever the
    * fingerprint moves — the inference settings, or any file's path, length
    * or modification time (so a table rewritten at the same path is
    * re-inferred). The fingerprint is one file listing, no data read.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing table keeps spark.read's own error
    if (!fs.exists(p)) return spark.read.parquet(path).schema
    val files = fs.listFiles(p, true)
    val listing = Vector.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      listing += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val fingerprint = inferenceConfs.map(k => spark.conf.getOption(k)) ++ listing.result().sorted
    val hit = schemas.get(path)
    if (hit != null && hit._1 == fingerprint) hit._2
    else {
      val schema = spark.read.parquet(path).schema
      schemas.put(path, (fingerprint, schema))
      schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) (which the vectorized reader rejects —
    * read nanos as long via the legacy flag, floor to micros) and plain
    * micros TIMESTAMP_NTZ. Adapt on the observed schema and surface a
    * uniform TimestampType column either way (session TZ is pinned UTC, so
    * the NTZ cast preserves wall time). The flag is set before `load`, so
    * the schema is inferred (and remembered) under it.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
