package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.api.GraftApi
import graft.api.GraftApi._
import graft.sources.ConcurrentJobs

/** `tool_session`: one MCP client calling the `GraftApi` tools in a closed
  * loop, every read tool appending its rows to the session's vector index
  * through an `IndexSink`, interleaved with `searchData` over that index.
  *
  * A session is one round. A round calls every read and create tool once
  * in a seeded order (paged tools call page 2 right after page 1, with
  * page 1's cursor), then searches the index it grew. A search's text is
  * drawn by seed from the indexed text of rows the session's reads
  * returned, so its answer must rank a copy of that row first at
  * similarity 1. Every round makes the same calls, so each run's latency
  * samples hold the same mix of tools.
  */
object ToolSession {
  /** Unit of the seeded order; the paged tools are one unit of two calls. */
  val Units = Seq("companies", "contacts", "tickets_default", "tickets_closed", "emails",
    "conversations", "company_activity", "ticket_threads", "create_companies", "create_contacts")

  final class Session(spark: SparkSession, sf: String, indexDir: String, seed: Long,
      tracer: Tracer, log: OpLog) {
    private val rng = new scala.util.Random(seed)
    private val sink = Some(IndexSink(indexDir, java.sql.Date.valueOf("2024-03-01")))
    /** Non-empty indexed texts the session has been shown so far. */
    private val seen = ArrayBuffer.empty[String]

    private def page[T](key: String, api: String, text: T => String)(call: => Page[T]): Option[Page[T]] =
      log.run(s"api.$api", tracer)(call) { p =>
        p.results.foreach(r => Option(text(r)).filter(_.trim.nonEmpty).foreach(seen += _))
        (Some(key), Some(Digest.ofRows(p.results)), None)
      }

    private def report[T](key: String, api: String)(call: => Page[T]): Unit =
      log.run(s"api.$api", tracer)(call)(p => (Some(key), Some(Digest.ofRows(p.results)), None))

    private def search(): Unit = if (seen.nonEmpty) {
      val q = seen(rng.nextInt(seen.size))
      log.run("api.searchData", tracer)(GraftApi.searchData(spark, indexDir, q, 10)) { p =>
        val scores = p.results.map(_.similarity_score)
        val ok = scores.nonEmpty && scores.head >= 0.9999 &&
          scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
        (None, Some(Digest.ofRows(p.results)), Some(ok))
      }
    }

    private def runUnit(u: String, pageTwo: Boolean = true): Unit = u match {
      case "companies" => page("companies", "getActiveCompanies",
        (c: Company) => c.name)(getActiveCompanies(spark, sf, 10, sink))
      case "contacts" => page("contacts", "getActiveContacts",
        (c: Contact) => c.email)(getActiveContacts(spark, sf, 10, sink))
      case "tickets_default" | "tickets_closed" =>
        val criteria = u.stripPrefix("tickets_")
        val p1 = page(s"${u}_p1", "getTickets", (t: Ticket) => t.subject)(
          getTickets(spark, sf, criteria, 50, None, sink))
        p1.flatMap(_.after).filter(_ => pageTwo).foreach(after => page(s"${u}_p2", "getTickets",
          (t: Ticket) => t.subject)(getTickets(spark, sf, criteria, 50, Some(after), sink)))
      case "emails" =>
        val p1 = page("emails_p1", "getRecentEmails", (e: Email) => e.body)(
          getRecentEmails(spark, sf, 50, None, sink))
        p1.flatMap(_.after).filter(_ => pageTwo).foreach(after => page("emails_p2", "getRecentEmails",
          (e: Email) => e.body)(getRecentEmails(spark, sf, 50, Some(after), sink)))
      case "conversations" => page("conversations", "getRecentConversations",
        (c: Conversation) => c.first_msg_truncated)(getRecentConversations(spark, sf, 10,
        sink = sink))
      case "company_activity" => page("company_activity", "getCompanyActivity",
        (a: ActivityRow) => a.content)(getCompanyActivity(spark, sf, 500, sink))
      case "ticket_threads" => page("ticket_threads", "getTicketThreads",
        (m: ThreadMessage) => m.text)(getTicketThreads(spark, sf, 20, sink))
      case "create_companies" => report("create_companies", "createCompanies")(
        createCompanies(spark, sf))
      case "create_contacts" => report("create_contacts", "createContacts")(
        createContacts(spark, sf))
    }

    /** One unit with page 1 only, then a search. */
    def warmup(u: String): Unit = {
      runUnit(u, pageTwo = false)
      search()
    }

    /** One round: every unit once in seeded order, then the searches. */
    def round(): Unit = {
      rng.shuffle(Units).foreach(u => runUnit(u))
      (1 to SearchesPerRound).foreach(_ => search())
    }
  }

  private val SearchesPerRound = 4

}

final class ToolSessionWorkload extends Workload {
  /** Every tool call: the thirteen read and create calls and the searches. */
  def primary(kind: String): Boolean = kind.startsWith("api.")

  private def indexDir(c: Ctx) = c.work.resolve("tool-index").toString

  /** A fresh, empty session index, and one call of every tool over the
    * sf0.001 tables beside the measured ones, so class loading, JIT and
    * whole-stage codegen of every tool are done before the first measured
    * call. The warm-up calls run from a small pool, each into its own
    * index, since only their side effect on the JVM is wanted.
    */
  def setup(c: Ctx): Unit = {
    Fs.rm(c.work.resolve("tool-warmup"))
    Fs.rm(c.work.resolve("tool-index"))
    val tiny = java.nio.file.Paths.get(c.sf).resolveSibling("sf0.001").toString
    ConcurrentJobs.run(ToolSession.Units.zipWithIndex.map { case (u, i) => () => {
      val s = new ToolSession.Session(c.spark, tiny,
        c.work.resolve(s"tool-warmup/$i").toString, c.seed, new Tracer(false), new OpLog)
      s.warmup(u)
    }}, Runtime.getRuntime.availableProcessors())
  }

  def measure(c: Ctx): Unit =
    new ToolSession.Session(c.spark, c.sf, indexDir(c), c.seed, c.tracer, c.log).round()

  def layers(c: Ctx): Map[String, Double] = {
    val t = c.tracer
    val reads = t.spansNamed(k => primary(k) && k != "api.searchData")
    val searches = t.spansNamed(_ == "api.searchData")
    val n = math.max(1, reads.size).toDouble
    val actions = reads.map(t.actionsIn)
    val tools = Seq("getActiveCompanies", "getActiveContacts", "getTickets", "getRecentEmails",
      "getRecentConversations", "getCompanyActivity", "getTicketThreads", "createCompanies",
      "createContacts", "searchData")
    tools.map(f => s"api.${f}_p50_ms" -> Stats.median(c.log.ok(s"api.$f").map(_.ms))).toMap ++ Map(
      "crm.read_ms" -> actions.map(_.filter(_.func == "collect").map(_.durationMs).sum).sum / n,
      "vector.index_leg_ms" ->
        actions.map(_.filterNot(_.func == "collect").map(_.durationMs).sum).sum / n,
      "vector.rows_indexed" -> reads.flatMap(t.jobsIn).map(_.rowsWritten).sum.toDouble,
      "vector.search_scan_rows" -> (if (searches.isEmpty) 0.0
        else searches.flatMap(t.jobsIn).map(_.scanRows).sum.toDouble / searches.size))
  }
}
