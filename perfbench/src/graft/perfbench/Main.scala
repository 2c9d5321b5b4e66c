package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one Spark session.
  *
  * Usage: Main --workload W --seed N --trace 0|1 --sf DIR --work DIR
  *
  * Writes `result.json` into the work directory: every op with its wall
  * time and output facts, the set-up time, the per-layer numbers when
  * traced, and the load it ran under. `run.py` checks and reports it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val sf = opts("sf")
    val work = Paths.get(opts("work")).toAbsolutePath
    require(Files.isRegularFile(Paths.get(sf, "documents.parquet")) ||
      Files.isDirectory(Paths.get(sf, "documents.parquet")), s"no testdata at $sf")

    val cores = Runtime.getRuntime.availableProcessors()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(traced)
    val log = new OpLog
    val w: Workload = workload match {
      case "tool_session" => new ToolSessionWorkload
      case "ingest_gate" => new IngestGateWorkload
      case "analytics_batch" => new AnalyticsBatchWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ctx = Ctx(spark, sf, seed, work, tracer, log)
    val setupS = {
      val t0 = System.nanoTime()
      w.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    tracer.attach(spark)
    val t0 = System.nanoTime()
    w.measure(ctx)
    val measuredS = (System.nanoTime() - t0) / 1e9
    tracer.drain(spark)
    // full collections with pauses between, so Spark's cleaner can drop
    // the shuffles and broadcasts the first one found unreachable
    val retainedHeapMb = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val layers =
      if (traced) tracer.sparkLayer(tracer.spansNamed(w.primary)) ++ w.layers(ctx)
      else Map.empty[String, Double]
    tracer.writeSpans(work.resolve("spans.jsonl"))
    val loadEnd = os.getSystemLoadAverage

    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "setup_s" -> Json.num(setupS),
      "retained_heap_mb" -> Json.num(retainedHeapMb),
      "measured_s" -> Json.num(measuredS),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(Seq(
        "nproc" -> cores.toString,
        "load_avg_start" -> Json.num(loadStart),
        "load_avg_end" -> Json.num(loadEnd),
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version),
        "seed" -> seed.toString)),
      "ops" -> log.toJson(w.primary)))
    Files.write(work.resolve("result.json"), out.getBytes("UTF-8"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, sf: String, seed: Long, work: Path, tracer: Tracer,
    log: OpLog)

trait Workload {
  /** The ops the end-to-end latency and throughput are taken over. */
  def primary(kind: String): Boolean
  /** Builds the state a run starts from, once per run: in the same JVM a
    * second set-up would be warm, a different and cheaper thing.
    */
  def setup(c: Ctx): Unit
  /** One fixed unit of work: the same calls in every run, however fast
    * the program is. Drops whatever model of the program's state the
    * workload kept, so the heap read after it counts only the program's.
    */
  def measure(c: Ctx): Unit
  /** The workload's own per-layer numbers, from a traced run. */
  def layers(c: Ctx): Map[String, Double]
}
