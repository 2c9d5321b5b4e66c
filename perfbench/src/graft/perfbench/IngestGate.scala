package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.{Multimodal, PhashIndex, PngCodec}
import graft.sources.ConcurrentJobs
import graft.text.LshIndex
import graft.vector.IvfIndex

/** `ingest_gate`: a seeded daily delivery through the three dedup gates
  * (`LshIndex.ingestBatch` with the winnow tier on, `IvfIndex.dedupIngest`,
  * `PhashIndex.dedupIngest`) against resident indexes built in set-up,
  * followed by read probes on the same indexes, a few takedowns, the
  * 7-day `IvfIndex.retain` and a compaction.
  *
  * The benchmark keeps its own model of what each index holds, so every
  * verdict is known before the call: a verbatim re-offer of a resident
  * item is a duplicate, a perturbed copy is a near duplicate, and an item
  * built to share nothing with the corpus is ingested. Probes ask for
  * items the model says are resident and must find them.
  */
final class IngestGateWorkload extends Workload {
  import IngestGateWorkload._

  private val Day0 = java.time.LocalDate.parse("2024-03-01")

  def primary(kind: String): Boolean = kind.endsWith(".ingest")

  private var docs: ArrayBuffer[(Long, String)] = _
  private var vecs: ArrayBuffer[(Long, Int, Array[Float])] = _
  private var imgs: ArrayBuffer[(Long, Array[Int])] = _
  private var dirs: Map[String, String] = Map.empty
  private var residentBytes = 0L
  private var residentRows = 0L
  private val gateWrites = ArrayBuffer.empty[(Long, Int)]

  /** The resident indexes: the sf0.1 documents, embeddings, and an image
    * for every seventh document.
    */
  def setup(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val root = c.work.resolve("gate")
    Fs.rm(root)
    dirs = Seq("text", "vector", "multimodal").map(k => k -> root.resolve(k).toString).toMap
    docs = ArrayBuffer.from(Tables.documents(spark, c.sf).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect())
    vecs = ArrayBuffer.from(Tables.embeddings(spark, c.sf)
      .select(col("vec_id"), col("label"), col("embedding")).as[(Long, Int, Array[Float])].collect())
    imgs = ArrayBuffer.from(docs.map(_._1).filter(_ % 7 == 0).map(id => id -> residentPixels(id)))

    // the three indexes are independent; build them side by side
    ConcurrentJobs.run(Seq(
      () => LshIndex.build(spark, docs.toSeq.toDF("doc_id", "text"), dirs("text")),
      () => IvfIndex.build(spark, vecs.toSeq.toDF("vec_id", "label", "embedding"), dirs("vector"),
        nCells = graft.ops.Similarity.autoCells(vecs.size.toLong), kmeansIters = 0,
        ingestDate = java.sql.Date.valueOf(Day0)),
      () => PhashIndex.build(spark, media(spark, imgs.toSeq), dirs("multimodal"))))
  }

  def measure(c: Ctx): Unit = {
    delivery(c, new scala.util.Random(c.seed))
    residentBytes = dirs.values.map(p => Fs.listing(java.nio.file.Paths.get(p)).values.sum).sum
    residentRows = docs.size.toLong + vecs.size + imgs.size
    docs = null
    vecs = null
    imgs = null
  }

  private def timedGate(c: Ctx, kind: String, dir: String, expected: Map[Long, Set[String]])(
      gate: => DataFrame): Set[Long] = {
    val before = if (c.tracer.enabled) Fs.listing(java.nio.file.Paths.get(dir)) else Map.empty[String, Long]
    val admitted = c.log.run(kind, c.tracer)(gate.collect().map(r => r.getLong(0) -> r.getString(1)).toMap) { got =>
      val ok = got.keySet == expected.keySet &&
        got.forall { case (id, v) => expected(id).contains(v) }
      val tiers = got.values.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }
        .toSeq.sorted.mkString(",")
      (None, Some(tiers), Some(ok))
    }.map(_.collect { case (id, "ingested") => id }.toSet).getOrElse(Set.empty)
    if (c.tracer.enabled) {
      val after = Fs.listing(java.nio.file.Paths.get(dir))
      val written = after.filter { case (f, n) => !before.get(f).contains(n) }
      gateWrites += (written.values.sum -> written.size)
    }
    admitted
  }

  private def delivery(c: Ctx, rng: scala.util.Random): Unit = {
    val spark = c.spark
    import spark.implicits._
    val day = java.sql.Date.valueOf(Day0.plusDays(1))
    def fresh(i: Int) = 10001000000L + i

    // ---- text gate: 100 verbatim, 100 suffix near-dups, 100 novel ----
    val tPick = sample(rng, docs.indices.filter(i => docs(i)._2.split(' ').length >= 12), 300)
      .map(docs)
    val tBatch = tPick.zipWithIndex.map { case ((_, text), i) =>
      val t = if (i < 100) text else if (i < 200) text + " zz yy xx"
        else tagEveryThird(text, s"_n1x$i")
      (fresh(i), t)
    }
    val tExpect = tBatch.indices.map { i =>
      fresh(i) -> (if (i < 100) Set("exact_dup", "batch_dup")
        else if (i < 200) Set("near_dup", "overlap_dup", "batch_dup") else Set("ingested"))
    }.toMap
    val tIn = timedGate(c, "text.lsh.ingest", dirs("text"), tExpect)(
      LshIndex.ingestBatch(spark, dirs("text"), tBatch.toDF("doc_id", "text"), winnowMinShared = 3))
    docs ++= tBatch.filter(x => tIn.contains(x._1))

    // ---- vector gate: 100 verbatim, 100 one-coordinate near-dups, 100 novel ----
    val vPick = sample(rng, vecs.indices, 200).map(vecs) ++ sample(rng, vecs.indices, 100).map(vecs)
    val vBatch = vPick.zipWithIndex.map { case ((_, label, e), i) =>
      val v = if (i < 100) e
        else if (i < 200) { val x = e.clone(); val j = i % x.length; x(j) = x(j) * 0.9f; x }
        else e.map(x => -x)
      (fresh(i), label, v)
    }
    val vExpect = vBatch.indices.map(i =>
      fresh(i) -> (if (i < 200) Dup else Set("ingested"))).toMap
    val vIn = timedGate(c, "vector.ivf.ingest", dirs("vector"), vExpect)(
      IvfIndex.dedupIngest(spark, dirs("vector"), vBatch.toDF("vec_id", "label", "embedding"),
        threshold = 0.95, nProbe = 4, ingestDate = day))
    vecs ++= vBatch.filter(x => vIn.contains(x._1))

    // ---- perceptual gate: 34 re-renders, 33 one-pixel near twins, 33 novel ----
    val iPick = sample(rng, imgs.indices, 67).map(imgs)
    val iBatch = iPick.zipWithIndex.map { case ((_, px), i) =>
      if (i < 34) (fresh(i), px)
      else { val x = px.clone(); x(0) = math.min(255, x(0) + 6); (fresh(i), x) }
    } ++ (67 until 100).map(i => (fresh(i), Array.fill(256)(rng.nextInt(256))))
    val iExpect = iBatch.indices.map(i =>
      fresh(i) -> (if (i < 67) Dup else Set("ingested"))).toMap
    val iIn = timedGate(c, "multimodal.phash.ingest", dirs("multimodal"), iExpect)(
      PhashIndex.dedupIngest(spark, dirs("multimodal"), media(spark, iBatch)))
    imgs ++= iBatch.filter(x => iIn.contains(x._1))

    // ---- read probes on the indexes just written ----
    val probe = sample(rng, docs.indices.filter(i => docs(i)._2.split(' ').length >= 12), 20)
      .map(docs).zipWithIndex.map { case ((src, text), i) => (src, fresh(500 + i), text) }
    c.log.run("text.lsh.probe", c.tracer) {
      LshIndex.dedupBatch(spark, dirs("text"), probe.map(p => (p._2, p._3)).toDF("doc_id", "text"))
        .filter(col("is_exact")).select(col("batch_doc_id"), col("resident_doc_id"))
        .as[(Long, Long)].collect().toSet
    } { pairs =>
      (None, Some(s"exact_pairs=${pairs.size}"), Some(probe.forall(p => pairs.contains(p._2 -> p._1))))
    }
    sample(rng, vecs.indices, 3).map(vecs).foreach { case (id, _, e) =>
      c.log.run("vector.ivf.probe", c.tracer) {
        IvfIndex.search(spark, dirs("vector"), e.toSeq, k = 5, nProbe = 2, asOf = day)
          .select(col("vec_id"), col("dist_sq")).as[(Long, Double)].collect().toSeq
      } { hits =>
        (None, Some(hits.map(_._1).mkString(",")),
          Some(hits.nonEmpty && hits.head._2 == 0.0 && hits.exists(h => h._1 == id && h._2 == 0.0)))
      }
    }

    // ---- takedowns, retention, periodic compaction ----
    def takedown[T](kind: String, pool: ArrayBuffer[T], n: Int, dir: String, col: String)(
        id: T => Long)(delete: DataFrame => Unit): Unit = {
      val gone = sample(rng, pool.indices, n).sorted(Ordering[Int].reverse)
      val ids = gone.map(i => id(pool(i)))
      gone.foreach(pool.remove)
      c.log.run(kind, c.tracer)(delete(ids.toDF(col)))(_ => (None, None, None))
    }
    takedown("text.lsh.delete", docs, 5, dirs("text"), "doc_id")(_._1)(
      LshIndex.delete(spark, dirs("text"), _))
    takedown("vector.ivf.delete", vecs, 5, dirs("vector"), "vec_id")(_._1)(
      IvfIndex.delete(spark, dirs("vector"), _))
    takedown("multimodal.phash.delete", imgs, 3, dirs("multimodal"), "doc_id")(_._1)(
      PhashIndex.delete(spark, dirs("multimodal"), _))
    c.log.run("vector.ivf.retain", c.tracer)(IvfIndex.retain(spark, dirs("vector"), day))(
      _ => (None, None, None))
    c.log.run("text.lsh.compact", c.tracer)(LshIndex.compact(spark, dirs("text")))(
      _ => (None, None, None))
    c.log.run("vector.ivf.compact", c.tracer)(IvfIndex.compact(spark, dirs("vector")))(
      _ => (None, None, None))
    c.log.run("multimodal.phash.compact", c.tracer)(
      PhashIndex.compact(spark, dirs("multimodal")))(_ => (None, None, None))
  }

  def layers(c: Ctx): Map[String, Double] = {
    val t = c.tracer
    def ok(kind: String) = c.log.ok(kind)
    def p50(kind: String) = Stats.median(ok(kind).map(_.ms))
    def admitShare(kind: String) = {
      val tiers = ok(kind).flatMap(_.digest).flatMap(_.split(',')).map(_.split('='))
        .map(a => a(0) -> a(1).toDouble)
      val all = tiers.map(_._2).sum
      if (all == 0) 0.0 else tiers.filter(_._1 == "ingested").map(_._2).sum / all
    }
    val ivfProbes = t.spansNamed(_ == "vector.ivf.probe")
    val ivfBytes = Fs.listing(java.nio.file.Paths.get(dirs("vector"))).values.sum.toDouble
    Map(
      "text.lsh_ingest_s" -> p50("text.lsh.ingest") / 1e3,
      "vector.ivf_ingest_s" -> p50("vector.ivf.ingest") / 1e3,
      "multimodal.phash_ingest_s" -> p50("multimodal.phash.ingest") / 1e3,
      "text.admit_share" -> admitShare("text.lsh.ingest"),
      "vector.admit_share" -> admitShare("vector.ivf.ingest"),
      "multimodal.admit_share" -> admitShare("multimodal.phash.ingest"),
      "text.lsh_probe_ms" -> p50("text.lsh.probe"),
      "vector.ivf_probe_ms" -> p50("vector.ivf.probe"),
      "vector.probe_read_share" -> (if (ivfProbes.isEmpty || ivfBytes == 0) 0.0
        else ivfProbes.map(s => t.jobsIn(s).map(_.scanBytes).sum.toDouble).sum /
          ivfProbes.size / ivfBytes),
      "sources.bytes_written_per_batch" -> Stats.mean(gateWrites.map(_._1.toDouble).toSeq),
      "sources.files_written_per_batch" -> Stats.mean(gateWrites.map(_._2.toDouble).toSeq),
      "sources.compact_s" -> Seq("text.lsh.compact", "vector.ivf.compact",
        "multimodal.phash.compact").flatMap(ok).map(_.ms).sum / 1e3,
      "vector.retain_s" -> p50("vector.ivf.retain") / 1e3,
      "sources.resident_bytes_per_row" ->
        residentBytes.toDouble / residentRows
    )
  }
}

object IngestGateWorkload {
  /** Verdicts of an item the model says duplicates a resident one: two
    * such items can also be identical to each other, and the gate then
    * keeps the lower id's verdict and calls the other a batch duplicate.
    */
  val Dup = Set("near_dup", "batch_dup")

  /** `ScaleProbe`'s growth rule: a tag on every third token kills every
    * 3-shingle and winnow k-gram shared with the source.
    */
  def tagEveryThird(text: String, tag: String): String =
    text.split(' ').zipWithIndex.map { case (w, i) => if (i % 3 == 0) w + tag else w }.mkString(" ")

  /** The registered `mm_phash_near` fixture's 16×16 render of an id. */
  def residentPixels(src: Long): Array[Int] =
    Array.tabulate(256)(p => ((src * 31 + (p % 16) * 7 + (p / 16) * 13) % 256).toInt)

  def media(spark: SparkSession, items: Seq[(Long, Array[Int])]) = {
    import spark.implicits._
    items.map { case (id, px) => Multimodal.MediaRow(id, "image", PngCodec.encodeGray(px, 16, 16)) }
      .toDS()
  }

  /** `n` distinct elements of `from`, seeded. */
  def sample(rng: scala.util.Random, from: IndexedSeq[Int], n: Int): IndexedSeq[Int] = {
    val a = from.toArray
    for (i <- 0 until math.min(n, a.length)) {
      val j = i + rng.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).toIndexedSeq
  }
}
