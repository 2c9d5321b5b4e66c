package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One operation the benchmark issued: its kind, wall time, whether it
  * threw, and the output facts the checker compares.
  *   - `key`: where the recorded expectation lives, when there is one;
  *   - `digest`: the output's content hash or summary compared against it;
  *   - `selfCheck`: a check decided by construction of the input.
  */
final case class Op(kind: String, ms: Double, error: Option[String], key: Option[String] = None,
    digest: Option[String] = None, selfCheck: Option[Boolean] = None)

final class OpLog {
  val ops = ArrayBuffer.empty[Op]

  /** Runs `body`; an exception is recorded as a failed op, never rethrown.
    * `check` turns the body's value into the op's output facts.
    */
  def run[T](kind: String, tracer: Tracer)(body: => T)(
      check: T => (Option[String], Option[String], Option[Boolean])): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(kind)(body)) catch {
      case scala.util.control.NonFatal(e) => Left(e)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Right(v) =>
        val (key, digest, self) = check(v)
        ops += Op(kind, ms, None, key, digest, self)
        Some(v)
      case Left(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(1).mkString.take(300)
        ops += Op(kind, ms, Some(msg))
        None
    }
  }

  def ok(kind: String): Seq[Op] = ops.toSeq.filter(o => o.kind == kind && o.error.isEmpty)

  def toJson(primary: String => Boolean): String = ops.map { o =>
    Json.obj(Seq("kind" -> Json.str(o.kind), "ms" -> Json.num(o.ms),
      "primary" -> primary(o.kind).toString) ++
      o.error.map(e => "error" -> Json.str(e)) ++
      o.key.map(k => "key" -> Json.str(k)) ++
      o.digest.map(d => "digest" -> Json.str(d)) ++
      o.selfCheck.map(c => "self_check" -> c.toString))
  }.mkString("[", ",\n", "]")
}

object Digest {
  def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Ordered hash of collected rows (a page's order is part of its answer). */
  def ofRows(rows: Seq[Any]): String = md5(rows.map(_.toString).mkString("\n"))

  /** Writes `df` to the noop sink (every column computed, nothing kept)
    * and returns "rows:hash", the hash an order-insensitive sum of per-row
    * hashes taken in the same pass by an observation above the plan.
    */
  def materialize(df: DataFrame, name: String): String = {
    val obs = Observation(name)
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
        .cast("decimal(38,0)")).as("h"))
      .write.mode("overwrite").format("noop").save()
    val r = obs.get
    s"${r("n")}:${Option(r("h")).getOrElse("0")}"
  }
}

object Fs {
  def rm(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile); ()
  }

  /** Every regular file under `p` with its size, keyed by relative path. */
  def listing(p: java.nio.file.Path): Map[String, Long] = {
    val f = p.toFile
    if (!f.exists()) return Map.empty
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(x => p.relativize(x).toString -> java.nio.file.Files.size(x)).toMap
    } finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
