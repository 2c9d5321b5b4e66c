package graft.api

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.crm.CrmOps

/** Typed tool facade (SURVEY.md §1.3: `Dataset[T]` case classes at the API
  * boundary, DataFrame internally) with the reference's response envelope
  * `{results, total, pagination}` (`clients/ticket_client.py:229-235`).
  *
  * Pagination is keyset (resume after the last (sort-key, id) seen) — the
  * honest Spark analog of HubSpot's `after` cursor, and the only form that
  * stays O(page) at 100 TB: an OFFSET would re-scan and re-sort the prefix
  * on every page.
  */
object GraftApi {

  case class Company(id: String, name: String, industry: String, domain: String,
      hs_lastmodifieddate: String)
  case class Contact(id: String, firstname: String, lastname: String, email: String,
      phone: String, lastmodifieddate: String)
  case class Ticket(id: String, subject: String, hs_ticket_priority: String,
      hs_pipeline_stage: String, hs_ticket_status: String, createdate: String,
      closedate: String, hs_lastmodifieddate: String)
  case class SearchHit(rank: Long, similarity_score: Double, data_type: String,
      data_json: String)
  case class Page[T](results: Seq[T], total: Long, after: Option[String])

  /** Destination for the read→index side-effect leg — the reference's
    * defining dataflow (`handlers/base_handler.py:78-90`): every read tool
    * embeds its result rows and appends them to the vector index, so the
    * search tool can later retrieve anything a read tool has returned. The
    * leg indexes exactly the page the caller received (see [[readPage]]).
    */
  case class IndexSink(path: String, ingestDate: java.sql.Date,
      embedder: graft.vector.Embedder = new graft.vector.HashingEmbedder())

  /** Runs a read tool's query once: collects its page and, with a sink,
    * indexes exactly those rows. The index leg writes the collected rows
    * back from the driver as a local dataset, so the CRM tables are scanned
    * by the collect alone and the index holds the page the caller got, not
    * a second run of the query. Every tool's case-class fields follow its
    * DataFrame's column order, so `data_json` is the query row's JSON.
    */
  private def readPage[T: Encoder: ClassTag](s: SparkSession, df: DataFrame,
      textCol: String, dataType: String, sink: Option[IndexSink]): Seq[T] = {
    val rows = df.as[T].collect().toSeq
    sink.foreach(k => graft.vector.IndexPipeline.indexRecords(
      s.createDataset(s.sparkContext.parallelize(rows)).toDF(), textCol, dataType,
      k.path, k.ingestDate, k.embedder))
    rows
  }

  private def cursor(lastmod: String, id: String): String = s"$lastmod|$id"

  def getActiveCompanies(s: SparkSession, d: String, limit: Int = 10,
      sink: Option[IndexSink] = None): Page[Company] = {
    import s.implicits._
    val rows = readPage[Company](s, CrmOps.activeCompanies(s, d, limit), "name", "company", sink)
    Page(rows, rows.size.toLong, rows.lastOption.map(c => cursor(c.hs_lastmodifieddate, c.id)))
  }

  def getActiveContacts(s: SparkSession, d: String, limit: Int = 10,
      sink: Option[IndexSink] = None): Page[Contact] = {
    import s.implicits._
    val rows = readPage[Contact](s, CrmOps.activeContacts(s, d, limit), "email", "contact", sink)
    Page(rows, rows.size.toLong, rows.lastOption.map(c => cursor(c.lastmodifieddate, c.id)))
  }

  /** Tickets with criteria + keyset resume: `after` is the cursor returned
    * by the previous page; the filter re-enters the (lastmod DESC, id ASC)
    * order exactly after it.
    */
  def getTickets(s: SparkSession, d: String, criteria: String = "default",
      limit: Int = 50, after: Option[String] = None,
      sink: Option[IndexSink] = None): Page[Ticket] = {
    import s.implicits._
    // Unsorted criteria views: the ONLY sort in this method is the final
    // orderBy+limit below, which lowers to one TakeOrderedAndProject per
    // page — no global sort of the full ticket set.
    val base = criteria match {
      case "closed" => CrmOps.ticketsClosedView(s, d)
        .withColumn("hs_ticket_priority", lit("")).withColumn("createdate", lit(""))
        .select("id", "subject", "hs_ticket_priority", "hs_pipeline_stage",
          "hs_ticket_status", "createdate", "closedate", "hs_lastmodifieddate")
      case "default" => CrmOps.ticketsDefaultView(s, d)
      // handlers/ticket_handler.py:79-85: invalid criteria is a structured
      // error, not a silent fallback — surface through `guarded`.
      case other => throw new IllegalArgumentException(
        s"Invalid criteria '$other'. Must be one of: default, closed")
    }
    val resumed = after match {
      case Some(tok) =>
        val Array(lm, id) = tok.split('|')
        base.filter(col("hs_lastmodifieddate") < lm ||
          (col("hs_lastmodifieddate") === lm && col("id").cast("long") > id.toLong))
      case None => base
    }
    val page = resumed
      .orderBy(col("hs_lastmodifieddate").desc, col("id").cast("long"))
      .limit(limit)
    val rows = readPage[Ticket](s, page, "subject", "ticket", sink)
    Page(rows, rows.size.toLong,
      if (rows.size < limit) None
      else rows.lastOption.map(t => cursor(t.hs_lastmodifieddate, t.id)))
  }

  case class Email(id: String, subject: String, from_email: String, to_email: String,
      body: String, created_at: String, updated_at: String)

  /** Emails paged scan (S4, `clients/conversation_client.py:56-79`): the
    * reference's `after` token resume over the non-archived envelope,
    * detail join included. Order is (created_at DESC, id ASC); the keyset
    * filter re-enters exactly after the cursor, so every page is one
    * TakeOrderedAndProject over the remaining suffix.
    */
  def getRecentEmails(s: SparkSession, d: String, limit: Int = 50,
      after: Option[String] = None, sink: Option[IndexSink] = None): Page[Email] = {
    import s.implicits._
    val cur = after.map { tok =>
      val Array(ts, id) = tok.split('|')
      (ts, id)
    }
    val page = CrmOps.emailPage(s, d, limit, cur).drop("created_at_ts", "email_id")
    val rows = readPage[Email](s, page, "body", "email", sink)
    Page(rows, rows.size.toLong,
      if (rows.size < limit) None
      else rows.lastOption.map(e => cursor(e.created_at, e.id)))
  }

  /** Semantic search over a built index (§3.1 lifecycle). Scans ONLY the
    * retained day-partitions — the reference's search always loads just the
    * ≤7 recent day-indexes (`faiss_manager.py:91-99,270-272`); `asOf`
    * anchors the window (default: the index's newest ingest day).
    */
  def searchData(s: SparkSession, indexPath: String, query: String,
      limit: Int = 10, asOf: java.sql.Date = null): Page[SearchHit] = {
    import s.implicits._
    val rows = graft.vector.IndexPipeline.searchIndex(s, indexPath, query, limit, asOf)
      .as[SearchHit].collect().toSeq
    Page(rows, rows.size.toLong, None)
  }

  case class BatchSearchHit(query_id: Long, rank: Long, similarity_score: Double,
      data_type: String, data_json: String)

  /** Batch form of the search tool: all query texts answered in ONE
    * distributed job (the per-query loop a caller would otherwise write
    * around `searchData` — N× the scan). Same retention window, same
    * embedder, same FAISS-parity scoring.
    */
  def searchDataBatch(s: SparkSession, indexPath: String,
      queries: Seq[(Long, String)], limit: Int = 10,
      asOf: java.sql.Date = null): Page[BatchSearchHit] = {
    import s.implicits._
    val qdf = queries.toDF("query_id", "query_text")
    val rows = graft.vector.IndexPipeline
      .searchIndexBatch(s, indexPath, qdf, limit, asOf)
      .as[BatchSearchHit].collect().toSeq
    Page(rows, rows.size.toLong, None)
  }

  case class Conversation(thread_id: Long, thread_created_at: String, n_messages: Long,
      n_agent: Long, n_customer: Long, n_unknown: Long, first_ts: String, last_ts: String,
      first_msg_truncated: String)

  /** hubspot_get_recent_conversations with the snapshot-cache policy: a
    * non-refreshing read serves from the cache when one is supplied
    * (`conversation_client.py:246-259`); the response carries the 200-char
    * truncated first message while the index leg stores the full rows
    * (dual fidelity, `conversation_handler.py:63-121`).
    */
  def getRecentConversations(s: SparkSession, d: String, limit: Int = 10,
      refreshCache: Boolean = false, cache: Option[graft.crm.ThreadCache] = None,
      sink: Option[IndexSink] = None): Page[Conversation] = {
    import s.implicits._
    val df = cache match {
      case Some(tc) => tc.recentConversations(d, limit, refresh = refreshCache)._1
      case None => CrmOps.recentConversations(s, d, limit)
    }
    val rows = readPage[Conversation](s, df, "first_msg_truncated", "conversation", sink)
    Page(rows, rows.size.toLong, rows.lastOption.map(c => c.thread_id.toString))
  }

  case class ActivityRow(company_key: Long, company_name: String, engagement_id: Long,
      etype: String, content: String, ts: String)

  /** hubspot_get_company_activity (fan-out capped at 500 per company). */
  def getCompanyActivity(s: SparkSession, d: String, fanoutCap: Int = 500,
      sink: Option[IndexSink] = None): Page[ActivityRow] = {
    import s.implicits._
    val rows = readPage[ActivityRow](s, CrmOps.companyActivity(s, d, fanoutCap), "content",
      "company_activity", sink)
    Page(rows, rows.size.toLong, None)
  }

  case class ThreadMessage(ticket_id: String, thread_id: Long, message_id: Long,
      created_at: String, sender_type: String, text: String)

  /** hubspot_get_ticket_conversation_threads (slim message formatting). */
  def getTicketThreads(s: SparkSession, d: String, nTickets: Int = 20,
      sink: Option[IndexSink] = None): Page[ThreadMessage] = {
    import s.implicits._
    val rows = readPage[ThreadMessage](s, CrmOps.ticketConversationThreads(s, d, nTickets),
      "text", "ticket_thread", sink)
    Page(rows, rows.size.toLong, None)
  }

  case class CompanyCreateReport(cand_key: Long, name: String, action: String,
      existing_id: String)
  case class ContactCreateReport(cand_key: Long, firstname: String, lastname: String,
      action: String)

  /** hubspot_create_company: dedup-create report (exists + id / insert). */
  def createCompanies(s: SparkSession, d: String): Page[CompanyCreateReport] = {
    import s.implicits._
    val rows = CrmOps.createCompaniesDedup(s, d).as[CompanyCreateReport].collect().toSeq
    Page(rows, rows.size.toLong, None)
  }

  /** hubspot_create_contact: dedup-create report. */
  def createContacts(s: SparkSession, d: String): Page[ContactCreateReport] = {
    import s.implicits._
    val rows = CrmOps.createContactsDedup(s, d).as[ContactCreateReport].collect().toSeq
    Page(rows, rows.size.toLong, None)
  }

  case class ToolError(error: String)

  /** The reference's error envelope (`core/error_handler.py:13-32` +
    * dispatcher catch `server.py:283-286`): any tool failure becomes a
    * structured `{"error": ...}` payload instead of an exception crossing
    * the API boundary.
    */
  def guarded[T](f: => T): Either[ToolError, T] =
    try Right(f)
    catch { case scala.util.control.NonFatal(e) =>
      Left(ToolError(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
    }
}
