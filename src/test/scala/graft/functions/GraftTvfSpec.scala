package graft.functions

import graft.SparkSpec
import graft.queries.fixtures.Crawl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL front door for composite operators: each TVF, driven purely
  * through `spark.sql` over temp views, must return exactly what the
  * Scala API path returns.
  */
class GraftTvfSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  private lazy val docs: DataFrame = (1L to 60L).map { i =>
    val base = i % 20
    (i, s"shared text body number $base with repeated words number $base " +
      s"and a tail marker $base here")
  }.toDF("doc_id", "text")

  private lazy val vecs: DataFrame = (0L until 80L).map { i =>
    val rnd = new scala.util.Random(42 + i)
    (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
  }.toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("graft_near_duplicates TVF == Dedup.minhashNearDuplicates") {
    docs.createOrReplaceTempView("tvf_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_near_duplicates('tvf_docs', 'doc_id', 'text', 0.5) " +
        "ORDER BY a, b")
    val api = graft.dedup.Dedup
      .minhashNearDuplicates(docs, "doc_id", "text", 0.5)
      .orderBy(col("a"), col("b"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_ann_topk TVF == Similarity.ivfPqTopKRefined") {
    vecs.createOrReplaceTempView("tvf_corpus")
    vecs.filter($"vec_id" < 5).createOrReplaceTempView("tvf_queries")
    val sql = spark.sql(
      "SELECT * FROM graft_ann_topk('tvf_queries', 'tvf_corpus', " +
        "'vec_id', 'embedding', 3) ORDER BY q_id, rank")
    val api = graft.similarity.Similarity.ivfPqTopKRefined(
        vecs.filter($"vec_id" < 5), vecs, "vec_id", "embedding", 3)
      .orderBy(col("q_id"), col("rank"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_pack_sequences TVF == Packing.packSequences") {
    docs.createOrReplaceTempView("tvf_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_pack_sequences('tvf_docs', 'doc_id', 'text', " +
        "32, 4) ORDER BY doc_id")
    val api = graft.pipeline.Packing
      .packSequences(docs, "doc_id", "text", 32, 4)
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("TVFs compose inside larger SQL (join + aggregate over the TVF)") {
    docs.createOrReplaceTempView("tvf_docs")
    val n = spark.sql(
      """SELECT count(*) AS n FROM graft_near_duplicates('tvf_docs',
        |  'doc_id', 'text', 0.5) p
        |JOIN tvf_docs d ON d.doc_id = p.a
        |WHERE p.jaccard >= 0.5""".stripMargin)
      .collect().head.getLong(0)
    val api = graft.dedup.Dedup
      .minhashNearDuplicates(docs, "doc_id", "text", 0.5).count()
    assert(n == api)
  }

  test("graft_semantic_dedup TVF == Similarity.semanticDedup") {
    // plant exact duplicates so the pair stage has work to do
    val planted = vecs.unionByName(vecs.filter($"vec_id" % 9 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
    planted.createOrReplaceTempView("tvf_sem")
    val sql = spark.sql(
      "SELECT * FROM graft_semantic_dedup('tvf_sem', 'vec_id', " +
        "'embedding', 0.99, 4) ORDER BY vec_id")
    val api = graft.similarity.Similarity
      .semanticDedup(planted, "vec_id", "embedding", 0.99, c = 4)
      .orderBy(col("vec_id"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
    // the plant must actually dedup: some row is not kept
    assert(got.exists(r => r.last == false))
  }

  test("graft_clean_corpus TVF == CorpusPipeline.clean") {
    val corpus = docs.select($"doc_id",
      concat($"text", lit(" the state of the art is a rich theme and" +
        " the pace of progress is real")).as("text"))
    corpus.createOrReplaceTempView("tvf_corpus_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_clean_corpus('tvf_corpus_docs', 'doc_id', " +
        "'text', 0.1, 0.5) ORDER BY doc_id")
    val api = graft.pipeline.CorpusPipeline.clean(corpus, "doc_id",
        "text", graft.pipeline.CorpusPipeline.Config(minQuality = 0.1,
          jaccardThreshold = 0.5))
      .orderBy(col("doc_id"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
    // near-dup removal must have dropped someone
    assert(got.size < corpus.count())
  }

  test("graft_release TVF == CorpusPipeline.release") {
    // per-base bodies are DISTINCT (cross-base jaccard ~0.25, below the
    // 0.3 split threshold too), same-base docs identical — so exact
    // dedup keeps one rep per base and only the eval bases drop
    val corpus = (1L to 60L).map { i =>
      val b = i % 20
      (i, s"topic $b story w${b}a w${b}b w${b}c w${b}d w${b}e w${b}f " * 2
        + "the state of the art is a rich theme and the pace of" +
        " progress is real")
    }.toDF("doc_id", "text")
    val ev = corpus.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 9000L).as("doc_id"), $"text")
    corpus.createOrReplaceTempView("tvf_rel_docs")
    ev.createOrReplaceTempView("tvf_rel_eval")
    val sql = spark.sql(
      "SELECT * FROM graft_release('tvf_rel_docs', 'tvf_rel_eval', " +
        "'doc_id', 'text', 0.1) ORDER BY doc_id")
    val api = graft.pipeline.CorpusPipeline
      .release(corpus, ev, "doc_id", "text",
        graft.pipeline.CorpusPipeline.Config(minQuality = 0.1))
      .orderBy(col("doc_id"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_dsir_resample TVF == Dsir.resample") {
    docs.createOrReplaceTempView("tvf_dsir_raw")
    docs.filter($"doc_id" % 4 === 1)
      .createOrReplaceTempView("tvf_dsir_target")
    val sql = spark.sql(
      "SELECT * FROM graft_dsir_resample('tvf_dsir_raw', " +
        "'tvf_dsir_target', 'doc_id', 'text', 128, 500000) " +
        "ORDER BY doc_id")
    val api = graft.pipeline.Dsir.resample(docs,
        docs.filter($"doc_id" % 4 === 1), "doc_id", "text", 128, 500000L)
      .orderBy(col("doc_id"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_diversity_sample TVF == Similarity.diversitySample") {
    vecs.createOrReplaceTempView("tvf_div_vecs")
    val sql = spark.sql(
      "SELECT * FROM graft_diversity_sample('tvf_div_vecs', 'vec_id', " +
        "'embedding', 3, 8) ORDER BY vec_id")
    val api = graft.similarity.Similarity.diversitySample(vecs, "vec_id",
        "embedding", perCluster = 3, c = 8)
      .orderBy(col("vec_id"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_source_drift TVF == Drift.sourceDrift") {
    val srcd = docs.withColumn("source",
      concat(lit("s"), (col("doc_id") % 3).cast("string")))
    val a = srcd.filter($"doc_id" % 2 === 0)
    val b = srcd.filter($"doc_id" % 2 === 1)
    a.createOrReplaceTempView("tvf_drift_a")
    b.createOrReplaceTempView("tvf_drift_b")
    val sql = spark.sql(
      "SELECT * FROM graft_source_drift('tvf_drift_a', 'tvf_drift_b', " +
        "'doc_id', 'source', 'text') ORDER BY source")
    val api = graft.quality.Drift.sourceDrift(a, b, "doc_id", "source",
        "text")
      .orderBy(col("source"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_backoff_score TVF == Repetition.backoffScore") {
    val train = docs.filter($"doc_id" % 2 === 0)
    val sc = docs.filter($"doc_id" % 2 === 1)
    train.createOrReplaceTempView("tvf_lm_train")
    sc.createOrReplaceTempView("tvf_lm_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_backoff_score('tvf_lm_train', 'tvf_lm_docs', " +
        "'doc_id', 'text') ORDER BY doc_id")
    val api = graft.text.Repetition.backoffScore(train, sc, "doc_id",
        "text")
      .orderBy(col("doc_id"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_cross_matches TVF == Dedup.crossCorpusMatches") {
    val ev = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    docs.createOrReplaceTempView("tvf_cm_train")
    ev.createOrReplaceTempView("tvf_cm_eval")
    val sql = spark.sql(
      "SELECT * FROM graft_cross_matches('tvf_cm_train', 'tvf_cm_eval', " +
        "'doc_id', 'text', 0.5) ORDER BY a, b")
    val api = graft.dedup.Dedup.crossCorpusMatches(docs, "doc_id", "text",
        ev, "doc_id", "text", 0.5)
      .orderBy(col("a"), col("b"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_chunks and graft_length_batches TVFs == Packing API") {
    docs.createOrReplaceTempView("tvf_docs")
    val sqlC = spark.sql(
      "SELECT * FROM graft_chunks('tvf_docs', 'doc_id', 'text', 8, 6) " +
        "ORDER BY doc_id, chunk")
    val apiC = graft.pipeline.Packing.chunkManifest(docs, "doc_id",
        "text", 8, 6)
      .orderBy(col("doc_id"), col("chunk"))
    assert(rows(sqlC).nonEmpty && rows(sqlC) == rows(apiC))
    val sqlB = spark.sql(
      "SELECT * FROM graft_length_batches('tvf_docs', 'doc_id', 'text', " +
        "8, 4) ORDER BY doc_id")
    val apiB = graft.pipeline.Packing.lengthBatches(docs, "doc_id",
        "text", 8, 4)
      .orderBy(col("doc_id"))
    assert(rows(sqlB).nonEmpty && rows(sqlB) == rows(apiB))
  }

  test("graft_table_at TVF time-travels the versioned catalog") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-tvf-cat").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    cat.create("t", Seq((1L, "v1")).toDF("id", "v").schema)
    cat.overwrite("t", Seq((1L, "v1")).toDF("id", "v"))
    cat.overwrite("t", Seq((1L, "v2"), (2L, "v2")).toDF("id", "v"))
    val cur = spark.sql(
      s"SELECT * FROM graft_table_at('$root', 't') ORDER BY id")
    assert(rows(cur) == rows(cat.table("t").orderBy(col("id"))))
    assert(cur.count() == 2)
    val v1 = cat.currentVersion("t").get - 1
    val old = spark.sql(
      s"SELECT * FROM graft_table_at('$root', 't', $v1) ORDER BY id")
    assert(rows(old) == Seq(Seq(1L, "v1")))
  }

  test("graft_curriculum TVF == Curriculum.schedule") {
    docs.createOrReplaceTempView("tvf_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_curriculum('tvf_docs', 'doc_id', 'text', 3, 5) " +
        "ORDER BY ord")
    val api = graft.pipeline.Curriculum
      .schedule(docs, "doc_id", "text", epochs = 3, bands = 5)
      .orderBy(col("ord"))
    assert(sql.columns.toSeq == api.columns.toSeq)
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_funnel TVF == CorpusPipeline.funnelReport") {
    docs.withColumn("source", concat(lit("src"), $"doc_id" % 3))
      .createOrReplaceTempView("tvf_src_docs")
    val src = docs.withColumn("source", concat(lit("src"), $"doc_id" % 3))
    val sql = spark.sql(
      "SELECT * FROM graft_funnel('tvf_src_docs', 'doc_id', 'source', " +
        "'text', 0.0) ORDER BY source")
    val api = graft.pipeline.CorpusPipeline.funnelReport(src, "doc_id",
        "source", "text",
        graft.pipeline.CorpusPipeline.Config(minQuality = 0.0))
      .orderBy(col("source"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_upsample TVF: weight column and constant ppm forms") {
    val w = docs.withColumn("w_ppm", lit(1500000L) + ($"doc_id" % 2) * 700000L)
    w.createOrReplaceTempView("tvf_w_docs")
    val sqlCol = spark.sql(
      "SELECT * FROM graft_upsample('tvf_w_docs', 'doc_id', 'w_ppm') " +
        "ORDER BY doc_id, rep")
    val apiCol = graft.pipeline.Mixture.upsample(w, "doc_id", col("w_ppm"))
      .orderBy(col("doc_id"), col("rep"))
    val got = rows(sqlCol)
    assert(got.nonEmpty && got == rows(apiCol))
    val sqlConst = spark.sql(
      "SELECT * FROM graft_upsample('tvf_w_docs', 'doc_id', 2000000) " +
        "ORDER BY doc_id, rep")
    val apiConst = graft.pipeline.Mixture
      .upsample(w, "doc_id", lit(2000000L))
      .orderBy(col("doc_id"), col("rep"))
    assert(rows(sqlConst) == rows(apiConst))
    assert(sqlConst.count() == 2 * w.count())
  }

  test("graft_token_shards TVF == Packing.tokenShards") {
    docs.createOrReplaceTempView("tvf_docs")
    val sql = spark.sql(
      "SELECT * FROM graft_token_shards('tvf_docs', 'doc_id', 'text', 4) " +
        "ORDER BY doc_id")
    val api = graft.pipeline.Packing.tokenShards(docs, "doc_id", "text", 4)
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_release_diff TVF == CorpusPipeline.releaseDiff") {
    val a = Seq((1L, "train", 10L), (2L, "test", 20L))
      .toDF("doc_id", "split", "n_tok")
    val b = Seq((2L, "train", 20L), (3L, "val", 5L))
      .toDF("doc_id", "split", "n_tok")
    a.createOrReplaceTempView("tvf_rel_a")
    b.createOrReplaceTempView("tvf_rel_b")
    val sql = spark.sql(
      "SELECT * FROM graft_release_diff('tvf_rel_a', 'tvf_rel_b', " +
        "'doc_id') ORDER BY doc_id")
    val api = graft.pipeline.CorpusPipeline.releaseDiff(a, b, "doc_id")
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_scrub_cross TVF == Dedup.scrubCrossSpans") {
    docs.createOrReplaceTempView("tvf_docs")
    docs.filter($"doc_id" % 4 === 0)
      .select(($"doc_id" + 900L).as("doc_id"), $"text")
      .createOrReplaceTempView("tvf_eval")
    val ev = docs.filter($"doc_id" % 4 === 0)
      .select(($"doc_id" + 900L).as("doc_id"), $"text")
    val sql = spark.sql(
      "SELECT * FROM graft_scrub_cross('tvf_docs', 'tvf_eval', " +
        "'doc_id', 'text', 3, 0) ORDER BY doc_id")
    val api = graft.dedup.Dedup.scrubCrossSpans(docs, "doc_id", "text",
        ev, "doc_id", "text", k = 3)
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_calibrated_gate TVF == Calibrate.topFractionBySource") {
    docs.withColumn("source", concat(lit("src"), $"doc_id" % 3))
      .createOrReplaceTempView("tvf_src_docs")
    val src = docs.withColumn("source", concat(lit("src"), $"doc_id" % 3))
    val sql = spark.sql(
      "SELECT * FROM graft_calibrated_gate('tvf_src_docs', 'doc_id', " +
        "'source', 'text', 1, 2) ORDER BY doc_id")
    val api = graft.quality.Calibrate.topFractionBySource(src,
        "doc_id", "source", "text", 1L, 2L)
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_contamination_report TVF == Dedup.crossContaminationReport") {
    docs.createOrReplaceTempView("tvf_docs")
    docs.filter($"doc_id" % 4 === 0)
      .select(($"doc_id" + 900L).as("doc_id"), $"text")
      .createOrReplaceTempView("tvf_eval")
    val ev = docs.filter($"doc_id" % 4 === 0)
      .select(($"doc_id" + 900L).as("doc_id"), $"text")
    val sql = spark.sql(
      "SELECT * FROM graft_contamination_report('tvf_docs', 'tvf_eval', " +
        "'doc_id', 'text', 3, 0) ORDER BY doc_id")
    val api = graft.dedup.Dedup.crossContaminationReport(docs, "doc_id",
        "text", ev, "doc_id", "text", k = 3)
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_rank_buckets TVF == Calibrate.rankBucketsBySource") {
    val scored = docs
      .withColumn("source", concat(lit("src"), $"doc_id" % 3))
      .withColumn("score", ($"doc_id" % 7).cast("double"))
    scored.createOrReplaceTempView("tvf_scored")
    val sql = spark.sql(
      "SELECT * FROM graft_rank_buckets('tvf_scored', 'doc_id', " +
        "'source', 'score', 3) ORDER BY doc_id")
    val api = graft.quality.Calibrate.rankBucketsBySource(scored,
        "doc_id", "source", "score", 3)
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_html_extract TVF == Html.extract") {
    val pages = docs.select($"doc_id",
      Crawl.wrapCol($"doc_id", $"text").as("html"))
    pages.createOrReplaceTempView("tvf_pages")
    val sql = spark.sql(
      "SELECT * FROM graft_html_extract('tvf_pages', 'doc_id', 'html') " +
        "ORDER BY doc_id")
    val api = graft.text.Html.extract(pages, "doc_id", "html")
      .orderBy(col("doc_id"))
    val got = rows(sql)
    assert(got.nonEmpty && got == rows(api))
  }

  test("graft_links / graft_pagerank / graft_paragraph_scrub TVFs == API") {
    val pages = Crawl
      .linkedPages(spark, "/root/testdata/sf0.001")
    pages.createOrReplaceTempView("tvf_lpages")
    val sqlLinks = spark.sql(
      "SELECT * FROM graft_links('tvf_lpages', 'doc_id', 'html') " +
        "ORDER BY src, url")
    val apiLinks = graft.graph.WebGraph.links(pages, "doc_id", "html")
      .orderBy(col("src"), col("url"))
    assert(rows(sqlLinks).nonEmpty && rows(sqlLinks) == rows(apiLinks))

    val sqlPr = spark.sql(
      "SELECT * FROM graft_pagerank('tvf_lpages', 'doc_id', 'html', 3) " +
        "ORDER BY node")
    val nodes = pages.select(col("doc_id").as("node"))
    val edges = graft.graph.WebGraph.docEdges(apiLinks)
    val apiPr = graft.graph.WebGraph.pageRank(nodes, edges, 3)
      .orderBy(col("node"))
    assert(rows(sqlPr).nonEmpty && rows(sqlPr) == rows(apiPr))

    docs.createOrReplaceTempView("tvf_pdocs")
    val sqlScrub = spark.sql(
      "SELECT * FROM graft_paragraph_scrub('tvf_pdocs', 'doc_id', 'text', 4) " +
        "ORDER BY doc_id")
    val apiScrub = graft.dedup.Dedup.scrubFrequentParagraphs(
        docs, "doc_id", "text", 4L).orderBy(col("doc_id"))
    assert(rows(sqlScrub).nonEmpty && rows(sqlScrub) == rows(apiScrub))
  }

  test("graft_resolved_links / graft_pagerank_converged TVFs == API") {
    val pages = Crawl
      .realisticPages(spark, "/root/testdata/sf0.001")
    pages.createOrReplaceTempView("tvf_rpages")
    val sqlRl = spark.sql(
      "SELECT * FROM graft_resolved_links('tvf_rpages', 'doc_id', " +
        "'url', 'html') ORDER BY src, url")
    val apiRl = graft.graph.WebGraph.resolvedLinks(pages, "doc_id",
        "url", "html").orderBy(col("src"), col("url"))
    assert(rows(sqlRl).nonEmpty && rows(sqlRl) == rows(apiRl))

    val lpages = Crawl
      .linkedPages(spark, "/root/testdata/sf0.001")
    lpages.createOrReplaceTempView("tvf_cpages")
    val sqlPc = spark.sql(
      "SELECT * FROM graft_pagerank_converged('tvf_cpages', 'doc_id', " +
        "'html', 20, 100000) ORDER BY node")
    val nodes = lpages.select(col("doc_id").as("node"))
    val edges = graft.graph.WebGraph.docEdges(
      graft.graph.WebGraph.links(lpages, "doc_id", "html"))
    val apiPc = graft.graph.WebGraph.pageRankConverged(nodes, edges,
        20, 100000L).orderBy(col("node"))
    assert(rows(sqlPc).nonEmpty && rows(sqlPc) == rows(apiPc))
  }

  test("graft_trustrank / graft_url_decisions TVFs == API") {
    val pages = Crawl
      .linkedPages(spark, "/root/testdata/sf0.001")
    pages.createOrReplaceTempView("tvf_tpages")
    pages.filter(col("doc_id") % 20 < 5)
      .createOrReplaceTempView("tvf_tseeds")
    val sqlTr = spark.sql(
      "SELECT * FROM graft_trustrank('tvf_tpages', 'tvf_tseeds', " +
        "'doc_id', 'html', 3) ORDER BY node")
    val nodes = pages.select(col("doc_id").as("node"))
    val seeds = pages.filter(col("doc_id") % 20 < 5)
      .select(col("doc_id").as("node"))
    val edges = graft.graph.WebGraph.docEdges(
      graft.graph.WebGraph.links(pages, "doc_id", "html"))
    val apiTr = graft.graph.WebGraph.trustRank(nodes, seeds, edges, 3)
      .orderBy(col("node"))
    assert(rows(sqlTr).nonEmpty && rows(sqlTr) == rows(apiTr))

    import spark.implicits._
    Seq("http://a.com/x", "http://a.com/p/1").toDF("url")
      .createOrReplaceTempView("tvf_urls")
    val rules = Seq(("http://a.com/", "deny"), ("http://a.com/p/", "allow"))
      .toDF("pattern", "action")
    rules.createOrReplaceTempView("tvf_rules")
    val sqlDec = spark.sql(
      "SELECT * FROM graft_url_decisions('tvf_urls', 'tvf_rules') " +
        "ORDER BY url")
    val apiDec = graft.graph.WebGraph.urlDecisions(
        Seq("http://a.com/x", "http://a.com/p/1").toDF("url"), rules)
      .orderBy(col("url"))
    assert(rows(sqlDec).nonEmpty && rows(sqlDec) == rows(apiDec))
  }

  test("round-14 crawl TVFs == API (base links, robots groups, " +
      "crawl delays, nested sitemaps)") {
    import spark.implicits._
    val bpages = Seq(
      (1L, "http://h.com/s/p/1",
        """<base href="/b/"><a href="q/p/2">r</a><a href="/p/3">a</a>"""),
      (2L, "http://h.com/s/p/2",
        """<a href="q/p/4">r</a>""")).toDF("doc_id", "url", "html")
    bpages.createOrReplaceTempView("tvf_bpages")
    val sqlB = spark.sql(
      "SELECT * FROM graft_resolved_links_base('tvf_bpages', 'doc_id', " +
        "'url', 'html') ORDER BY src, url")
    val apiB = graft.graph.WebGraph.resolvedLinksBase(bpages,
        "doc_id", "url", "html")
      .orderBy(col("src"), col("url"))
    assert(rows(sqlB).nonEmpty && rows(sqlB) == rows(apiB))

    val robots = Seq(
      ("a.com", "User-agent: bot\nDisallow: /p/1\nCrawl-delay: 2\n" +
        "\nUser-agent: *\nDisallow: /p/2\nCrawl-delay: 9"),
      ("b.com", "User-agent: *\nAllow: /ok\nDisallow: /no"))
      .toDF("host", "txt")
    robots.createOrReplaceTempView("tvf_robots")
    val sqlR = spark.sql(
      "SELECT * FROM graft_robots_rules('tvf_robots', 'host', 'txt', " +
        "'bot') ORDER BY pattern")
    val apiR = graft.graph.WebGraph.parseRobotsFor(robots,
        "host", "txt", "bot").orderBy(col("pattern"))
    assert(rows(sqlR).nonEmpty && rows(sqlR) == rows(apiR))
    val sqlD = spark.sql(
      "SELECT * FROM graft_crawl_delays('tvf_robots', 'host', 'txt', " +
        "'bot') ORDER BY host")
    val apiD = graft.graph.WebGraph.crawlDelays(robots,
        "host", "txt", "bot").orderBy(col("host"))
    assert(rows(sqlD).nonEmpty && rows(sqlD) == rows(apiD))

    val roots = Seq(
      ("a.com", "<sitemapindex><sitemap><loc>http://a.com/sm/0.xml" +
        "</loc></sitemap></sitemapindex>"),
      ("b.com", "<urlset><url><loc>http://b.com/p/9</loc></url>" +
        "</urlset>")).toDF("host", "xml")
    val fetched = Seq(("http://a.com/sm/0.xml",
      "<urlset><url><loc>http://a.com/p/1</loc></url></urlset>"))
      .toDF("url", "xml")
    roots.createOrReplaceTempView("tvf_smroots")
    fetched.createOrReplaceTempView("tvf_smfetched")
    val sqlS = spark.sql(
      "SELECT * FROM graft_sitemaps_nested('tvf_smroots', 'host', " +
        "'xml', 'tvf_smfetched', 'url', 'xml') ORDER BY host, url")
    val apiS = graft.graph.WebGraph.parseSitemapsNested(roots,
        "host", "xml", fetched, "url", "xml")
      .orderBy(col("host"), col("url"))
    assert(rows(sqlS).nonEmpty && rows(sqlS) == rows(apiS))

    docs.createOrReplaceTempView("tvf_gq_docs")
    val sqlG = spark.sql(
      "SELECT * FROM graft_gopher_rules('tvf_gq_docs', 'doc_id', " +
        "'text', 5) ORDER BY doc_id")
    val apiG = graft.text.GopherQuality.signals(docs,
        "doc_id", "text", minTok = 5L)
      .orderBy(col("doc_id"))
    assert(rows(sqlG).nonEmpty && rows(sqlG) == rows(apiG))
  }

  test("graft_c4_clean / graft_canonical_links TVFs == API") {
    import spark.implicits._
    val c4docs = Seq(
      (1L, "a good long sentence here.\nno punct line\nshort one."),
      (2L, "brace line { breaks } the page.\nsecond full sentence."))
      .toDF("doc_id", "text")
    c4docs.createOrReplaceTempView("tvf_c4_docs")
    val sqlC = spark.sql(
      "SELECT * FROM graft_c4_clean('tvf_c4_docs', 'doc_id', 'text', " +
        "3, 1) ORDER BY doc_id")
    val apiC = graft.text.C4Quality.clean(c4docs, "doc_id", "text",
        Nil, 3, 1L).orderBy(col("doc_id"))
    assert(rows(sqlC).nonEmpty && rows(sqlC) == rows(apiC))

    val pages = Seq(
      (1L, "http://a.com/p/1?ref=x",
        """<link rel="canonical" href="/p/1">"""),
      (2L, "http://b.com/x", "<html>no canonical</html>"))
      .toDF("doc_id", "url", "html")
    pages.createOrReplaceTempView("tvf_canon_pages")
    val sqlK = spark.sql(
      "SELECT * FROM graft_canonical_links('tvf_canon_pages', " +
        "'doc_id', 'url', 'html') ORDER BY src")
    val apiK = graft.graph.WebGraph.canonicalLinks(pages, "doc_id",
        "url", "html").orderBy(col("src"))
    assert(rows(sqlK).nonEmpty && rows(sqlK) == rows(apiK))
  }

  test("graft_sitemap_tree / graft_lang_classify TVFs == API") {
    import spark.implicits._
    val roots = Seq(("h1",
      "<sitemap><loc>sm/a</loc></sitemap>")).toDF("host", "xml")
    val fetched = Seq(
      ("sm/a", "<url><loc>p/1</loc><lastmod>2025-01-01</lastmod></url>" +
        "<sitemap><loc>sm/b</loc></sitemap>"),
      ("sm/b", "<url><loc>p/2</loc><lastmod>2025-01-02</lastmod></url>" +
        "<sitemap><loc>sm/a</loc></sitemap>")).toDF("url", "xml")
    roots.createOrReplaceTempView("tvf_sm_roots")
    fetched.createOrReplaceTempView("tvf_sm_fetched")
    val sqlT = spark.sql(
      "SELECT * FROM graft_sitemap_tree('tvf_sm_roots', 'host', 'xml', " +
        "'tvf_sm_fetched', 'url', 'xml', 5) ORDER BY url")
    val apiT = graft.graph.WebGraph.parseSitemapsRecursive(roots,
        "host", "xml", fetched, "url", "xml", 5).orderBy(col("url"))
    assert(rows(sqlT).nonEmpty && rows(sqlT) == rows(apiT))

    val seeds = Seq((1L, "en", "the cat sat on the mat"),
      (2L, "xx", "gsv xzg hzg lm gsv nzg")).toDF("id", "label", "text")
    val unk = Seq((10L, "the dog sat on the cat"),
      (11L, "gsv wlt hzg lm gsv xzg")).toDF("id", "text")
    seeds.createOrReplaceTempView("tvf_lang_seeds")
    unk.createOrReplaceTempView("tvf_lang_docs")
    val sqlL = spark.sql(
      "SELECT * FROM graft_lang_classify('tvf_lang_seeds', 'id', " +
        "'label', 'text', 'tvf_lang_docs') ORDER BY id")
    val model = graft.text.LangClassifier.fit(seeds, "id", "label",
      "text")
    val apiL = graft.text.LangClassifier.classify(unk, "id", "text",
      model).orderBy(col("id"))
    assert(rows(sqlL).nonEmpty && rows(sqlL) == rows(apiL))
    assert(sqlL.select(col("lang_trained")).as[String]
      .collect().toSeq == Seq("en", "xx"))
  }

  test("graft_route_language TVF == API (fit + clean + route from SQL)") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(translate(col("text"),
            "abcdefghijklmnopqrstuvwxy", "yxwvutsrqponmlkjihgfedcba"))
          .as("text"))
    val seeds = docs.filter(col("doc_id") % 10 < 2)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("xx"))
          .as("label"), col("text"))
    docs.createOrReplaceTempView("tvf_route_docs")
    seeds.createOrReplaceTempView("tvf_route_seeds")
    val sqlR = spark.sql(
      "SELECT doc_id, lang_routed FROM graft_route_language(" +
        "'tvf_route_seeds', 'doc_id', 'label', 'text', " +
        "'tvf_route_docs', 'en, xx') ORDER BY doc_id")
    val model = graft.text.LangClassifier.fit(seeds, "doc_id", "label",
      "text")
    val apiR = graft.pipeline.CorpusPipeline.routeByLanguage(docs,
        "doc_id", "text",
        graft.pipeline.CorpusPipeline.Config(langGate =
          Some(graft.pipeline.CorpusPipeline.LangGate(model,
            Seq("en", "xx")))))
      .select(col("doc_id"), col("lang_routed")).orderBy(col("doc_id"))
    assert(rows(sqlR).nonEmpty && rows(sqlR) == rows(apiR))
    assert(sqlR.select(col("lang_routed")).distinct().count() == 2)
  }

  test("non-literal and malformed TVF arguments fail with a clear error") {
    docs.createOrReplaceTempView("tvf_docs")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_near_duplicates('tvf_docs', 'doc_id')")
        .collect()
    }
    assert(e.getMessage.contains("graft_near_duplicates"))
  }
}
