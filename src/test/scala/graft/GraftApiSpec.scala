package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import graft.api.GraftApi

class GraftApiSpec extends SparkSpec {

  test("typed envelope carries results, total, and a resume cursor") {
    val page = GraftApi.getActiveCompanies(spark, sf)
    assert(page.results.size == 10 && page.total == 10L && page.after.isDefined)
    assert(page.results.head.hs_lastmodifieddate >= page.results.last.hs_lastmodifieddate)
  }

  test("keyset pagination: two pages tile the first 2k of the full ordering") {
    val p1 = GraftApi.getTickets(spark, sf, limit = 20)
    assert(p1.after.isDefined)
    val p2 = GraftApi.getTickets(spark, sf, limit = 20, after = p1.after)
    val both = GraftApi.getTickets(spark, sf, limit = 40)
    assert((p1.results ++ p2.results).map(_.id) == both.results.map(_.id))
    assert(p1.results.map(_.id).toSet.intersect(p2.results.map(_.id).toSet).isEmpty)
  }

  test("pagination terminates: short page returns no cursor") {
    val closedTotal = graft.crm.CrmOps.ticketsClosed(spark, sf, Int.MaxValue).count()
    val bigPage = GraftApi.getTickets(spark, sf, criteria = "closed",
      limit = closedTotal.toInt + 100)
    assert(bigPage.after.isEmpty)
    assert(bigPage.total == closedTotal)
  }

  test("read→index→search lifecycle: read tools index their results, search finds them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-rw").toString + "/idx"
    val sink = Some(GraftApi.IndexSink(dir, java.sql.Date.valueOf("2024-03-01")))
    // §3.2 step 6: every read tool appends its result rows to the index.
    val companies = GraftApi.getActiveCompanies(spark, sf, 10, sink)
    val tickets = GraftApi.getTickets(spark, sf, limit = 10, sink = sink)
    val contacts = GraftApi.getActiveContacts(spark, sf, 10, sink)
    assert(companies.results.nonEmpty && tickets.results.nonEmpty && contacts.results.nonEmpty)

    // §3.1: a search over the accumulated index retrieves the read rows.
    val t = tickets.results.head
    val hits = GraftApi.searchData(spark, dir, t.subject, 10)
    assert(hits.results.head.similarity_score > 0.99)
    assert(hits.results.exists(h =>
      h.data_type == "ticket" && h.data_json.contains(s""""id":"${t.id}"""")))

    val c = companies.results.head
    val cHits = GraftApi.searchData(spark, dir, c.name, 10)
    assert(cHits.results.exists(h =>
      h.data_type == "company" && h.data_json.contains(s""""id":"${c.id}"""")))

    // Dual-fidelity: the index stores the FULL record JSON even though a
    // tool response may truncate (conversation_handler.py:63-67).
    assert(hits.results.head.data_json.startsWith("{"))
  }

  test("emails paged scan: keyset resume covers the suffix without overlap; body coalesces") {
    val p1 = GraftApi.getRecentEmails(spark, sf, limit = 20)
    assert(p1.results.size == 20 && p1.after.isDefined)
    val p2 = GraftApi.getRecentEmails(spark, sf, limit = 20, after = p1.after)
    assert(p2.results.size == 20)
    assert(p1.results.map(_.id).toSet.intersect(p2.results.map(_.id).toSet).isEmpty)
    // Two pages == the first 40 of one big page, in order (S4 offset-resume).
    val big = GraftApi.getRecentEmails(spark, sf, limit = 40)
    assert((p1.results ++ p2.results).map(_.id) == big.results.map(_.id))
    // R3: both coalesce branches appear — plain text when present, html fallback.
    val bodies = (p1.results ++ p2.results).map(_.body)
    assert(bodies.exists(_.startsWith("shipped qty ")) && bodies.exists(_.startsWith("<p>order ")))
  }

  test("all nine tool equivalents return typed pages; errors become envelopes") {
    // 4: conversations, with and without the snapshot cache.
    val direct = GraftApi.getRecentConversations(spark, sf)
    assert(direct.results.nonEmpty)
    assert(direct.results.forall(c =>
      c.first_msg_truncated == null || c.first_msg_truncated.length <= 200))
    val cacheDir = java.nio.file.Files.createTempDirectory("graft-api-tc").toString + "/t"
    val tc = new graft.crm.ThreadCache(spark, cacheDir)
    val first = GraftApi.getRecentConversations(spark, sf, cache = Some(tc))
    val cached = GraftApi.getRecentConversations(spark, sf, cache = Some(tc))
    assert(cached.results == first.results, "cache-served read must reproduce the snapshot")
    // 5/6: company activity + ticket threads.
    assert(GraftApi.getCompanyActivity(spark, sf, fanoutCap = 5).results.nonEmpty)
    assert(GraftApi.getTicketThreads(spark, sf, nTickets = 5).results.nonEmpty)
    // 7/8: create reports split into exists/insert.
    val cc = GraftApi.createCompanies(spark, sf)
    assert(cc.results.map(_.action).toSet == Set("exists", "insert"))
    assert(cc.results.filter(_.action == "exists").forall(_.existing_id.nonEmpty))
    assert(GraftApi.createContacts(spark, sf).results.nonEmpty)
    // error envelope: invalid criteria is a structured error, not a throw.
    val err = GraftApi.guarded(GraftApi.getTickets(spark, sf, criteria = "bogus"))
    assert(err.isLeft && err.left.exists(_.error.contains("Invalid criteria")))
    assert(GraftApi.guarded(GraftApi.getTickets(spark, sf, limit = 3)).isRight)
  }

  test("search facade returns ranked typed hits over a built index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api").toString + "/idx"
    graft.vector.IndexPipeline.indexRecords(
      Tables.documents(spark, sf), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    val probe = Tables.documents(spark, sf)
      .select("text").head.getString(0)
    val page = GraftApi.searchData(spark, dir, probe, 5)
    assert(page.results.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(page.results.head.similarity_score > 0.99)
  }

  // ---- config-switched ANN serving path (spark.graft.serve.index) ----

  /** Bitwise image of a search page: rank, raw IEEE bits of the score,
    * payload columns.
    */
  private def hitBits(p: GraftApi.Page[GraftApi.SearchHit]) =
    p.results.map(h => (h.rank, java.lang.Double.doubleToRawLongBits(h.similarity_score),
      h.data_type, h.data_json))

  private def withServeConf[A](mode: String, nProbe: Int, refine: Int)(body: => A): A = {
    spark.conf.set("spark.graft.serve.index", mode)
    spark.conf.set("spark.graft.serve.nProbe", nProbe.toString)
    spark.conf.set("spark.graft.serve.refineFactor", refine.toString)
    try body finally {
      spark.conf.set("spark.graft.serve.index", "flat")
      spark.conf.unset("spark.graft.serve.nProbe")
      spark.conf.unset("spark.graft.serve.refineFactor")
    }
  }

  test("serve.index=ivf probe-all ≡ flat bitwise; hot-day appends and late deletes honored") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-serve").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.buildServeIndex(spark, dir, "ivf", nCells = 8)
    // appended AFTER the sidecar build, on a newer day: the hot arm must see it
    graft.vector.IndexPipeline.indexRecords(docs.limit(5), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val probe = docs.select("text").head.getString(0)
    val flat = GraftApi.searchData(spark, dir, probe, 5)
    val served = withServeConf("ivf", nProbe = 8, refine = 1) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(hitBits(served) == hitBits(flat),
      "probe-all IVF over sealed days + brute hot day must equal the flat scan bit-for-bit")
    assert(served.results.exists(_.data_type == "late"),
      "a row appended after the sidecar build must be served from the hot arm")
    // a delete issued AFTER the build hides the vector on both paths
    import spark.implicits._
    val qEmb = new graft.vector.HashingEmbedder().embedText(probe)
    val top = spark.read.parquet(dir)
      .withColumn("d2", l2Sq(col("embedding"), lit(qEmb)))
      .orderBy(col("d2"), col("vec_id")).select("vec_id").head.getLong(0)
    graft.vector.VectorIndex.delete(spark, dir, Seq(top).toDF("vec_id"))
    val flat2 = GraftApi.searchData(spark, dir, probe, 5)
    val served2 = withServeConf("ivf", nProbe = 8, refine = 1) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(hitBits(served2) == hitBits(flat2))
    assert(hitBits(served2) != hitBits(flat), "the deleted top hit must vanish")
  }

  test("serve.index=ivfpq probe-all + window-covering refine ≡ flat bitwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-pq").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "ivfpq", nCells = 8)
    val probe = docs.select("text").head.getString(0)
    val flat = GraftApi.searchData(spark, dir, probe, 5)
    // probe all 8 cells, refine budget 5·20 = 100 ≥ the 60-row window:
    // the provably-exact configuration (IvfPqSpec's vec_pq_search pattern)
    val served = withServeConf("ivfpq", nProbe = 8, refine = 20) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(hitBits(served) == hitBits(flat))
    // the budgeted config (narrow probe, small refine — the production
    // trade whose floors IvfPqSpec pins) still finds the exact-match hit
    val fast = withServeConf("ivfpq", nProbe = 2, refine = 4) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(fast.results.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(fast.results.head.similarity_score > 0.99,
      "the identical-text vector sits in the nearest probed cell — recall@1 holds")
    val flatSet = flat.results.map(_.data_json).toSet
    assert(fast.results.count(h => flatSet.contains(h.data_json)) >= 1,
      "budgeted recall floor: the fast config overlaps the exact top-k")
  }

  test("serve.index=sq probe-all + window-covering refine ≡ flat bitwise, single and batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-sq").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "sq", nCells = 8)
    val probe = docs.select("text").head.getString(0)
    val flat = GraftApi.searchData(spark, dir, probe, 5)
    // probe all 8 cells, refine 5·20 = 100 ≥ the 60-row window: the SQ ADC
    // stage only SELECTS candidates, the exact re-rank decides — provably
    // the flat answer (the SqIndex.searchExact rationale)
    val served = withServeConf("sq", nProbe = 8, refine = 20) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(hitBits(served) == hitBits(flat),
      "probe-all SQ8 over sealed days + brute hot day must equal the flat scan bit-for-bit")
    // the budgeted config still lands the identical-text hit at rank 1
    val fast = withServeConf("sq", nProbe = 2, refine = 4) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(fast.results.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(fast.results.head.similarity_score > 0.99)
    // batch twin: probe-all sq batch ≡ flat batch bitwise
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def bbits(p: GraftApi.Page[GraftApi.BatchSearchHit]) =
      p.results.map(h => (h.query_id, h.rank,
        java.lang.Double.doubleToRawLongBits(h.similarity_score), h.data_type, h.data_json))
    val flatB = GraftApi.searchDataBatch(spark, dir, texts, 5)
    val servedB = withServeConf("sq", 8, 20)(GraftApi.searchDataBatch(spark, dir, texts, 5))
    assert(bbits(servedB) == bbits(flatB),
      "probe-all + window-covering refine SQ batch must equal the flat batch bitwise")
  }

  test("serve.index=opq rotated-PQ probe-all + window-covering refine ≡ flat bitwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-opq").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "opq", nCells = 8)
    // the rotation sidecar exists and the stored vectors stay ORIGINAL:
    // payload/embedding columns are byte-identical to the flat layout's —
    // only cells and codes live in rotated space
    val sc = graft.vector.ServeIndex.sidecarPath(dir)
    val rot = spark.read.parquet(s"$sc/rotation")
    assert(rot.count() >= 2, "mean row + at least one eigenvector row")
    val cols = spark.read.parquet(s"$sc/vectors").columns.toSet
    assert(!cols.contains("ann_emb") && cols.contains("codes") && cols.contains("embedding"),
      "rotated vectors are never stored — codes carry the rotated-space info")
    val probe = docs.select("text").head.getString(0)
    val flat = GraftApi.searchData(spark, dir, probe, 5)
    // probe all 8 cells, refine 5·20 = 100 ≥ the 60-row window: candidacy
    // is total whatever the rotation did, and the exact re-rank runs the
    // SAME raw-space distance expression as the flat scan — bitwise equal
    val served = withServeConf("opq", nProbe = 8, refine = 20) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(hitBits(served) == hitBits(flat),
      "probe-all rotated-PQ over sealed days + brute hot day must equal the flat scan bit-for-bit")
    // budgeted config: the identical-text vector still lands at rank 1
    val fast = withServeConf("opq", nProbe = 2, refine = 4) {
      GraftApi.searchData(spark, dir, probe, 5)
    }
    assert(fast.results.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(fast.results.head.similarity_score > 0.99,
      "the query rotates with the same basis as the corpus — recall@1 holds")
    // batch twin: probe-all opq batch ≡ flat batch bitwise (the in-plan
    // query rotation must agree with the driver-side single-query rotation)
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def bbits(p: GraftApi.Page[GraftApi.BatchSearchHit]) =
      p.results.map(h => (h.query_id, h.rank,
        java.lang.Double.doubleToRawLongBits(h.similarity_score), h.data_type, h.data_json))
    val flatB = GraftApi.searchDataBatch(spark, dir, texts, 5)
    val servedB = withServeConf("opq", 8, 20)(GraftApi.searchDataBatch(spark, dir, texts, 5))
    assert(bbits(servedB) == bbits(flatB),
      "probe-all + window-covering refine OPQ batch must equal the flat batch bitwise")
  }

  test("serve sidecar sealed scan is partition-pruned to the probed cells on disk") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-api-prune").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(60)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 8)
    val probe = docs.select("text").head.getString(0)
    val qv = new graft.vector.HashingEmbedder().embedText(probe).toSeq
    // budgeted config: nProbe=2 of 8 cells — the sealed arm's scan must
    // read ONLY those two cell directories (the layout nests ingest_date
    // under cell, so probe pruning composes with the date window)
    val served = graft.vector.ServeIndex.search(spark, dir, "ivf", qv, k = 5, nProbe = 2).get
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"sealed scan must carry cell partition filters:\n${plan.take(2000)}")
    // and the cell filter really prunes: the sidecar scan under the same
    // predicate touches only the probed cells' rows
    val cents = spark.read.parquet(s"${graft.vector.ServeIndex.sidecarPath(dir)}/centroids")
      .collect().map(r => (r.getAs[Long]("cid"), r.getSeq[Float](1)))
    def l2(a: Seq[Float]) = a.zip(qv).map { case (x, y) =>
      (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val probed = cents.map { case (cid, c) => (l2(c), cid) }.sorted.take(2).map(_._2).toSet
    val cellsRead = spark.read.parquet(s"${graft.vector.ServeIndex.sidecarPath(dir)}/vectors")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("cell").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(cellsRead.subsetOf(probed))
  }

  test("serve path falls back to flat: no sidecar, kind mismatch, pre-watermark asOf") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-fb").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(30)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(8), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val probe = docs.select("text").head.getString(0)
    val flat = GraftApi.searchData(spark, dir, probe, 5)
    // 1: ivf requested, no sidecar built yet
    val noSidecar = withServeConf("ivf", 8, 1)(GraftApi.searchData(spark, dir, probe, 5))
    assert(hitBits(noSidecar) == hitBits(flat))
    // 2: sidecar is ivf, config asks ivfpq
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 4)
    val mismatch = withServeConf("ivfpq", 8, 20)(GraftApi.searchData(spark, dir, probe, 5))
    assert(hitBits(mismatch) == hitBits(flat))
    // 3: asOf anchored BEFORE the watermark — time travel the sidecar's
    // window never covered; must serve (correctly) from the flat layout
    val past = java.sql.Date.valueOf("2024-03-01")
    val flatPast = GraftApi.searchData(spark, dir, probe, 5, asOf = past)
    val servedPast = withServeConf("ivf", 8, 1)(
      GraftApi.searchData(spark, dir, probe, 5, asOf = past))
    assert(hitBits(servedPast) == hitBits(flatPast))
    assert(hitBits(flatPast) != hitBits(flat),
      "the two anchors must actually see different windows for this test to bite")
    // matched kind + current anchor serves through the sidecar and agrees
    val servedNow = withServeConf("ivf", 8, 1)(GraftApi.searchData(spark, dir, probe, 5))
    assert(hitBits(servedNow) == hitBits(flat))
  }

  test("batch serve: ivf and ivfpq probe-all ≡ the flat batch scan bitwise; fallback intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-bserve").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def bits(p: GraftApi.Page[GraftApi.BatchSearchHit]) =
      p.results.map(h => (h.query_id, h.rank,
        java.lang.Double.doubleToRawLongBits(h.similarity_score), h.data_type, h.data_json))
    val flat = GraftApi.searchDataBatch(spark, dir, texts, 5)
    // no sidecar yet: the batch path must fall back to the flat scan
    val noSidecar = withServeConf("ivf", 8, 1)(GraftApi.searchDataBatch(spark, dir, texts, 5))
    assert(bits(noSidecar) == bits(flat))
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 8)
    val servedIvf = withServeConf("ivf", 8, 1)(GraftApi.searchDataBatch(spark, dir, texts, 5))
    assert(bits(servedIvf) == bits(flat),
      "probe-all IVF batch (sealed cell-join + brute hot arm) must equal the flat batch " +
        "bitwise — which also proves the post-build hot-day rows entered the candidate set")
    assert(servedIvf.results.groupBy(_.query_id).values.forall(_.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L)))
    graft.vector.ServeIndex.build(spark, dir, "ivfpq", nCells = 8)
    val servedPq = withServeConf("ivfpq", 8, 20)(GraftApi.searchDataBatch(spark, dir, texts, 5))
    assert(bits(servedPq) == bits(flat),
      "probe-all + window-covering refine IVF-PQ batch must equal the flat batch bitwise")
  }

  test("batch search answers every query in one job, matching per-query searchData") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-batch").toString + "/idx"
    graft.vector.IndexPipeline.indexRecords(
      Tables.documents(spark, sf).limit(50), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    val texts = Tables.documents(spark, sf).limit(3)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val batch = GraftApi.searchDataBatch(spark, dir, texts, 5)
    assert(batch.results.size == texts.size * 5)
    val perQuery = batch.results.groupBy(_.query_id)
    assert(perQuery.keySet == texts.map(_._1).toSet)
    texts.foreach { case (qid, text) =>
      val single = GraftApi.searchData(spark, dir, text, 5).results
      val batched = perQuery(qid).sortBy(_.rank)
      assert(batched.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
      // identical hits and scores as N single calls, in one distributed job
      assert(batched.map(h => (h.similarity_score, h.data_json)) ==
        single.map(h => (h.similarity_score, h.data_json)))
    }
  }

  test("batch search: a vec_id re-ingested on two retained days yields one hit, not two") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-dup").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(30)
    // vec_id is the record's content hash, so the same 30 rows carry the
    // same vec_ids on both retained days — the rank join's payload side must
    // dedup or every hit doubles.
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val texts = docs.select("doc_id", "text").limit(2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val batch = GraftApi.searchDataBatch(spark, dir, texts, 5)
    val perQuery = batch.results.groupBy(_.query_id)
    texts.foreach { case (qid, _) =>
      val hits = perQuery(qid)
      assert(hits.size == 5, s"expected 5 hits for query $qid, got ${hits.size}")
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L),
        "duplicate (query_id, rank) rows — payload join fanned out")
    }
  }

  test("searchData is partition-pruned to the retention window (faiss_manager.py:91-99)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-ret").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(40)
    // Two ingest days beyond the 7-day window of the newest, one inside.
    graft.vector.IndexPipeline.indexRecords(docs, "text", "old", dir,
      java.sql.Date.valueOf("2024-01-01"))
    graft.vector.IndexPipeline.indexRecords(docs, "text", "recent", dir,
      java.sql.Date.valueOf("2024-03-01"))
    val probe = docs.select("text").head.getString(0)

    // Default asOf = newest ingest day: beyond-retention rows are invisible
    // even for an exact-match query that would otherwise rank them first.
    val hits = GraftApi.searchData(spark, dir, probe, 10)
    assert(hits.results.nonEmpty)
    assert(hits.results.forall(_.data_type == "recent"),
      s"retention must exclude the 2024-01-01 batch: ${hits.results.map(_.data_type).distinct}")

    // And the pruning is PARTITION pruning, not a post-scan filter.
    val planned = graft.vector.IndexPipeline.searchIndex(spark, dir, probe, 10)
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ingest_date"),
      s"expected ingest_date partition filter in:\n$plan")

    // An explicit asOf re-anchors the window onto the old batch.
    val oldHits = GraftApi.searchData(spark, dir, probe, 10,
      asOf = java.sql.Date.valueOf("2024-01-02"))
    assert(oldHits.results.nonEmpty && oldHits.results.forall(_.data_type == "old"))
  }

  // ---- the read→index leg: one CRM query per tool call ----

  /** What `body` set off: the Spark jobs it launched and the Dataset
    * actions it ran. Listener delivery is async but ordered on one queue,
    * so a marker job run before `body` flushes events of earlier work, and
    * one run after it arrives only once every event `body` caused has.
    */
  private def observe[A](body: => A): (A, Int, Seq[QueryExecution]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val markers = new java.util.concurrent.Semaphore(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markers.release()
        else { jobs.incrementAndGet(); () }
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { actions.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def flush(): Unit = {
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markers.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      flush()
      jobs.set(0)
      actions.clear()
      val out = body
      flush()
      (out, jobs.get(), actions.toArray(Array.empty[QueryExecution]).toSeq)
    } finally {
      spark.listenerManager.unregister(actionListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** Parquet files under the fixture directory that an action's plan reads. */
  private def crmScans(qe: QueryExecution): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = new java.io.File(sf).getCanonicalPath
    qe.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath) }
      .flatten.filter(_.startsWith(root))
  }

  private def isWrite(qe: QueryExecution): Boolean =
    qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand => c
    }.isDefined

  test("each read tool runs its CRM query once; the index write reads only the page") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-once").toString + "/idx"
    val sink = Some(GraftApi.IndexSink(dir, java.sql.Date.valueOf("2024-03-01")))
    // (tool, data_type, page rows, the tool's own query — the page before typing)
    val calls: Seq[(String, String, () => Seq[Any], () => DataFrame)] = Seq(
      ("companies", "company", () => GraftApi.getActiveCompanies(spark, sf, 10, sink).results,
        () => graft.crm.CrmOps.activeCompanies(spark, sf, 10)),
      ("contacts", "contact", () => GraftApi.getActiveContacts(spark, sf, 10, sink).results,
        () => graft.crm.CrmOps.activeContacts(spark, sf, 10)),
      ("tickets", "ticket", () => GraftApi.getTickets(spark, sf, limit = 20, sink = sink).results,
        () => graft.crm.CrmOps.ticketsDefault(spark, sf, 20)),
      ("emails", "email", () => GraftApi.getRecentEmails(spark, sf, 20, sink = sink).results,
        () => graft.crm.CrmOps.recentEmails(spark, sf, 20)),
      ("conversations", "conversation",
        () => GraftApi.getRecentConversations(spark, sf, 10, sink = sink).results,
        () => graft.crm.CrmOps.recentConversations(spark, sf, 10)),
      ("activity", "company_activity",
        () => GraftApi.getCompanyActivity(spark, sf, 5, sink).results,
        () => graft.crm.CrmOps.companyActivity(spark, sf, 5)),
      ("threads", "ticket_thread", () => GraftApi.getTicketThreads(spark, sf, 5, sink).results,
        () => graft.crm.CrmOps.ticketConversationThreads(spark, sf, 5)))
    calls.foreach { case (tool, dataType, call, query) =>
      val (page, _, actions) = observe(call())
      val reads = actions.filter(qe => crmScans(qe).nonEmpty)
      assert(reads.size == 1, s"$tool: ${reads.size} actions scanned CRM tables, want 1")
      assert(!isWrite(reads.head), s"$tool: the CRM scan must be the page collect")
      val writes = actions.filter(isWrite)
      assert(writes.size == 1, s"$tool: want one index write, saw ${writes.size}")
      assert(!writes.head.executedPlan.toString.contains("FileScan parquet"),
        s"$tool: the index write must not scan any table:\n${writes.head.executedPlan}")
      // the index holds exactly the page, and each row's data_json is the
      // tool query's own row serialized — field order included
      val indexed = spark.read.parquet(dir).filter(col("data_type") === dataType)
        .select("data_json").collect().map(_.getString(0)).toSeq.sorted
      val q = query()
      val expected = q.select(to_json(struct(q.columns.map(col): _*)))
        .collect().map(_.getString(0)).toSeq.sorted
      assert(page.nonEmpty && indexed.size == page.size, s"$tool: indexed ${indexed.size} of ${page.size}")
      assert(indexed == expected, s"$tool: indexed rows differ from the page")
    }
  }

  test("Tables.load infers a table's schema once; a rewritten table is inferred again") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    val (first, firstJobs, _) = observe(Tables.load(spark, dir, "t"))
    assert(first.columns.toSeq == Seq("a") && firstJobs >= 1, "the first load infers")
    val (again, againJobs, _) = observe(Tables.load(spark, dir, "t"))
    assert(again.columns.toSeq == Seq("a"))
    assert(againJobs == 0, s"a second load of an unchanged table ran $againJobs jobs")
    spark.range(3).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(path)
    val (rewritten, rewrittenJobs, _) = observe(Tables.load(spark, dir, "t"))
    assert(rewritten.columns.toSeq == Seq("b", "c") && rewrittenJobs >= 1,
      "a table rewritten at the same path must be inferred again")
    assert(rewritten.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("searchData after conversations with a null first message: no throw, exact hit first") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-null").toString + "/idx"
    val sink = Some(GraftApi.IndexSink(dir, java.sql.Date.valueOf("2024-03-01")))
    val convs = GraftApi.getRecentConversations(spark, sf, 50, sink = sink).results
    assert(convs.exists(_.first_msg_truncated == null),
      "the fixture must hold a thread without a first message for this test to bite")
    val c = convs.find(_.first_msg_truncated != null).get
    val hits = GraftApi.searchData(spark, dir, c.first_msg_truncated, 10).results
    assert(hits.nonEmpty && hits.head.similarity_score >= 0.9999)
    assert(hits.head.data_json.contains(s""""first_msg_truncated":"${c.first_msg_truncated}""""))
    val stored = spark.read.parquet(dir)
    assert(stored.filter(col("embedding").isNull).count() == 0, "no null embedding is written")
    // an index written before the fix may hold null embeddings: search skips them
    val legacy = java.nio.file.Files.createTempDirectory("graft-api-legacy").toString + "/idx"
    graft.vector.VectorIndex.append(stored.select(col("vec_id"),
      when(get_json_object(col("data_json"), "$.first_msg_truncated").isNotNull,
        col("embedding")).as("embedding"),
      col("data_type"), col("data_json"), col("ingest_date")), legacy)
    assert(spark.read.parquet(legacy).filter(col("embedding").isNull).count() > 0)
    val legacyHits = GraftApi.searchData(spark, legacy, c.first_msg_truncated, 10).results
    assert(legacyHits.head.data_json == hits.head.data_json)
    assert(legacyHits.forall(_.data_json.contains("first_msg_truncated")))
  }

  test("vec_id stays unique across appends: batch search returns the single-search payloads") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-ids").toString + "/idx"
    val sink = Some(GraftApi.IndexSink(dir, java.sql.Date.valueOf("2024-03-01")))
    val companies = GraftApi.getActiveCompanies(spark, sf, 10, sink).results
    val tickets = GraftApi.getTickets(spark, sf, limit = 10, sink = sink).results
    val texts = (companies.take(3).map(_.name) ++ tickets.take(3).map(_.subject))
      .zipWithIndex.map { case (t, i) => i.toLong -> t }
    val batch = GraftApi.searchDataBatch(spark, dir, texts, 5).results.groupBy(_.query_id)
    texts.foreach { case (qid, text) =>
      val single = GraftApi.searchData(spark, dir, text, 5).results
      assert(batch(qid).sortBy(_.rank).map(h => (h.data_type, h.data_json)) ==
        single.map(h => (h.data_type, h.data_json)), s"query '$text'")
    }
    val stored = spark.read.parquet(dir)
    assert(stored.select("vec_id").distinct().count() == stored.count(),
      "two appends must not share a vec_id")
    // a takedown of one record leaves the other append's rows alone
    val victim = stored.filter(col("data_type") === "company").select("vec_id").limit(1)
    graft.vector.VectorIndex.delete(spark, dir, victim)
    val left = graft.vector.VectorIndex.loadRecent(spark, dir, java.sql.Date.valueOf("2024-03-01"))
    assert(left.count() == stored.count() - 1)
  }
}
