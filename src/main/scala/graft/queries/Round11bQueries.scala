package graft.queries

import graft.functions.PortableHash
import graft.graph.WebGraph
import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.Crawl.{linkCtes, linkedPages, lpagesCte,
  urlOf, urlSqlOf}
import graft.queries.fixtures.{Crawl, Streams, Text, Vectors}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 continuation: the WEB-GRAPH side of a crawl corpus — link
  * extraction, domain adjacency, exact-integer PageRank as a document
  * quality signal, and graph-aware per-domain selection caps. Every
  * query replays bit-identically in the DuckDB oracle.
  */
object Round11bQueries extends QueryGroup {

  private def docEdges(s: SparkSession, dir: String): DataFrame =
    WebGraph.docEdges(
      WebGraph.links(linkedPages(s, dir), "doc_id", "html"))

  // ---- sketch-family shared stream ----------------------------------
  // Items = doc-distinct 3-gram shingles (strings): CMS estimates each
  // gram's DOCUMENT FREQUENCY (the maxDf signal), HLL the distinct-gram
  // cardinality. The oracle mirrors Dedup.shingles' gram construction
  // (validated since q18).

  /** CTEs ending in `citems(doc_id, item)` (doc-distinct grams) over
    * `documents`.
    */
  private val itemsCtes: String =
    s"""ctoks AS (SELECT doc_id, $toksExpr AS toks FROM documents),
       |cgrams AS (SELECT doc_id,
       |    unnest(CASE WHEN len(toks) >= 3
       |      THEN list_transform(generate_series(1, len(toks)-2),
       |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |      ELSE []::VARCHAR[] END) AS item
       |  FROM ctoks),
       |citems AS (SELECT DISTINCT doc_id, item FROM cgrams)""".stripMargin

  /** `(doc_id, item)` — doc-distinct shingle strings. */
  private def shingleItems(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.shingles(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3)
      .select(col("doc_id"), col("shingle").as("item"))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LINK EXTRACTION + domain adjacency: absolute hrefs pulled from
    // the raw markup (relative nav boilerplate skipped by the pattern),
    // target host parsed, and the domain-level graph rolled up — the
    // first thing a crawl pipeline builds after fetching. One scan, one
    // (src_dom, dst_host)-keyed aggregation; no per-page state.
    "q207_link_graph" -> ((s, dir) => {
      val links = WebGraph.links(linkedPages(s, dir), "doc_id", "html")
      links
        .select((col("src") % 20).as("src_dom"),
          WebGraph.host(col("url")).as("dst_host"))
        .groupBy(col("src_dom"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy(col("src_dom"), col("dst_host"))
    }),

    // Exact-integer PAGERANK over the extracted doc graph (5 rounds,
    // ppt mass, truncating-div both engines): the host-quality signal
    // CC-style pipelines attach to every document. Per-round one
    // edge-keyed join + one aggregation, localCheckpoint'd — the
    // canonical distributed formulation; report = top 100 + per-doc
    // domain, a deterministic total order.
    "q208_pagerank" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").as("node"))
      val ranks = WebGraph.pageRank(docs, docEdges(s, dir), rounds = 5)
      ranks.select(col("node"), (col("node") % 20).as("dom"),
          col("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(100)
    }),

    // GRAPH-AWEIGHED per-domain selection caps (C4-style "max docs per
    // host", weighted by host centrality): domains ranked by their
    // total PageRank mass, top half keep 15 docs each, bottom half 8;
    // within a domain docs survive by (n_chars, doc_id). The domain
    // table is 20 rows (model-sized — the single-partition window is
    // bounded); the doc-side window partitions BY DOMAIN, so the
    // per-partition work is capped at corpus/20 ≫ parallelism holds.
    "q209_domain_cap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (col("doc_id") % 20).as("dom"))
      val nodes = docs.select(col("doc_id").as("node"))
      val ranks = WebGraph.pageRank(nodes, docEdges(s, dir), rounds = 5)
      val dmass = ranks.groupBy((col("node") % 20).as("dom"))
        .agg(sum(col("rank")).as("mass"))
      val drank = dmass.withColumn("drk",
        row_number().over(
          Window.orderBy(col("mass").desc, col("dom"))))
        .withColumn("cap", when(col("drk") <= 10, 15).otherwise(8))
      val kept = docs.join(broadcast(drank), Seq("dom"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("dom"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rk") <= col("cap"))
      kept.select(col("doc_id"), col("dom"), col("mass"),
          col("cap").cast("int").as("cap"), col("rk"))
        .orderBy(col("doc_id"))
    }),

    // COUNT-MIN heavy-hitter estimates: a 4x1024 mergeable counter grid
    // built from two shard partials (merged == direct — the sketch
    // contract), probed for every gram of the first five docs. est is
    // NEVER below the exact document frequency (collisions only
    // inflate) — the scale path to maxDf candidates without an exact
    // corpus-wide groupBy; the sketch is model-sized, so probing is a
    // broadcast join.
    "q210_cms_heavy" -> ((s, dir) => {
      import graft.quality.CmsSketch
      val sh = shingleItems(s, dir)
      val sketch = CmsSketch.merge(
        CmsSketch.partials(sh.filter(col("doc_id") % 2 === 0),
          "item", depth = 4, width = 1024),
        CmsSketch.partials(sh.filter(col("doc_id") % 2 === 1),
          "item", depth = 4, width = 1024))
      val probes = sh.filter(col("doc_id") < 5)
        .select(col("item")).distinct()
      val exact = sh.groupBy(col("item"))
        .agg(count(lit(1)).as("exact_df"))
      CmsSketch.estimate(sketch, probes, "item", depth = 4, width = 1024)
        .join(exact, Seq("item"))
        .select(col("item"), col("exact_df"), col("est"),
          (col("est") - col("exact_df")).as("over"))
        .orderBy(col("item"))
    }),

    // HYPERLOGLOG registers: 256-register distinct-gram sketch, merge =
    // per-register MAX over two shard partials (== direct build), with
    // the exact-integer harmonic estimate and the true cardinality side
    // by side — constant-size distinct counting for dashboard rollups
    // where q36's KMV (k values per group) is still too big.
    "q211_hll_registers" -> ((s, dir) => {
      import graft.quality.HllSketch
      val sh = shingleItems(s, dir)
      val regs = HllSketch.merge(
        HllSketch.registers(sh.filter(col("doc_id") % 2 === 0), "item"),
        HllSketch.registers(sh.filter(col("doc_id") % 2 === 1), "item"))
      val exact = sh.select(col("item")).distinct()
        .agg(count(lit(1)).as("n_exact"))
      HllSketch.complete(regs)
        .crossJoin(broadcast(exact))
        .select(col("reg"), col("max_rho"), col("s_sum"), col("est"),
          col("n_exact"))
        .orderBy(col("reg"))
    }),

    // PARAGRAPH-frequency scrub (RefinedWeb-style line dedup): the
    // plant injects a corpus-wide newsletter prompt before ~1/3 of the
    // docs and a per-source disclaimer line after ~1/2 — the newsletter
    // (df≈n/3) always falls, the per-source disclaimers (df≈n/40)
    // straddle maxDf=8 so both branches stay live at sf0.01; each
    // document's own text survives.
    "q212_paragraph_scrub" -> ((s, dir) => {
      graft.dedup.Dedup.scrubFrequentParagraphs(
          paraPlanted(s, dir), "doc_id", "ptext", maxDf = 8L)
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL link-graph ingest: pages fold in three batches, the
    // edge set is published + rehydrated through the catalog, and
    // PageRank over the accumulated graph replays the one-shot q208
    // ranks verbatim (a page's out-links are per-page — no batching
    // can change the distinct edge set). Oracle = q208's SQL.
    "q213_incremental_links" -> ((s, dir) => {
      import graft.graph.IncrementalGraph
      val pages = linkedPages(s, dir)
      var idx = IncrementalGraph.build(
        pages.filter(col("doc_id") % 3 === 0), "doc_id", "html")
      (1 to 2).foreach { k =>
        idx = IncrementalGraph.addBatch(idx,
          pages.filter(col("doc_id") % 3 === k), "doc_id", "html")
      }
      Streams.withCatalog(s, "q213") { cat =>
        IncrementalGraph.save(idx, cat, "crawl")
        val loaded = IncrementalGraph.load(cat, "crawl")
        val nodes = Tables(s, dir, "documents")
          .select(col("doc_id").as("node"))
        IncrementalGraph.rank(loaded, nodes, rounds = 5)
          .select(col("node"), (col("node") % 20).as("dom"), col("rank"))
          .orderBy(col("rank").desc, col("node"))
          .limit(100)
      }
    }),

    // ...and the STREAMING door: page slices land as files, each
    // micro-batch folds via addBatch — same per-page argument, so any
    // file batching replays the one-shot ranks. Oracle = q208's SQL.
    "q214_stream_links" -> ((s, dir) => {
      import graft.graph.IncrementalGraph
      import java.nio.file.Files
      import org.apache.spark.sql.types._
      val pages = linkedPages(s, dir)
      val land = Streams.landThirds(pages, "doc_id", "graft-q214")
      val cp = Files.createTempDirectory("graft-q214-cp").toString
      val empty = IncrementalGraph.GraphIndex(StreamFold.unionOr(s, Nil,
        StructType(Seq(StructField("src", LongType),
          StructField("dst", LongType)))))
      val idx = StreamFold[IncrementalGraph.GraphIndex](
          StreamFold.files(s, land), cp) { (prev, batch, _) =>
        IncrementalGraph.addBatch(prev.getOrElse(empty), batch,
          "doc_id", "html")
      }.getOrElse(throw Streams.noBatch("q214_stream_links"))
      val nodes = Tables(s, dir, "documents")
        .select(col("doc_id").as("node"))
      val out = IncrementalGraph.rank(idx, nodes, rounds = 5)
        .select(col("node"), (col("node") % 20).as("dom"), col("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(100)
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),

    // ANCHOR-TEXT aggregation: the in-link description of each TARGET
    // page (anchor text describes the page it points at — the IR
    // signal link-based document representations use). Element
    // extraction is per-page; the rollup is one dst-keyed aggregation;
    // report = top 100 by in-link count.
    "q215_anchor_text" -> ((s, dir) => {
      val an = WebGraph.anchors(linkedPages(s, dir), "doc_id", "html")
        .filter(regexp_extract(col("url"), "/p/([0-9]+)$", 1) =!= "")
        .select(col("src"),
          regexp_extract(col("url"), "/p/([0-9]+)$", 1)
            .cast("long").as("dst"),
          col("anchor"))
      an.groupBy(col("dst"))
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("src")).as("n_srcs"),
          min(col("anchor")).as("anchor_text"))
        .orderBy(col("n_anchors").desc, col("dst"))
        .limit(100)
    }),

    // URL CANONICALIZATION: the messy corpus carries the same targets
    // behind three forms — plain, HTTPS+uppercase-host, and a
    // ?utm tracking tail — and the canonical identity (scheme
    // collapsed, host lowercased, query dropped, trailing slash
    // stripped) collapses them back to the clean fetch set. Per-domain
    // report: raw link volume vs distinct raw vs distinct canonical.
    "q216_url_canonical" -> ((s, dir) => {
      val links = WebGraph.links(messyPages(s, dir), "doc_id", "html")
      links
        .select((col("src") % 20).as("src_dom"), col("url"),
          WebGraph.canonicalUrl(col("url")).as("canon"))
        .groupBy(col("src_dom"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("url")).as("n_raw"),
          countDistinct(col("canon")).as("n_canon"))
        .orderBy(col("src_dom"))
    }),

    // STREAMING sketch door: item slices land as files, each
    // micro-batch folds its CMS partials into the accumulated grid
    // (counter addition — any batching == the one-shot build), and the
    // end-of-stream estimates replay q210 verbatim. The sketch is the
    // streaming-native aggregate: per-batch work is batch-sized, state
    // is the constant 4x1024 grid.
    "q217_stream_cms" -> ((s, dir) => {
      import graft.quality.CmsSketch
      import java.nio.file.Files
      val sh = shingleItems(s, dir)
      val land = Streams.landThirds(sh, "doc_id", "graft-q217")
      val cp = Files.createTempDirectory("graft-q217-cp").toString
      val sketch = StreamFold[DataFrame](StreamFold.files(s, land), cp) {
        (prev, batch, _) =>
          val part = CmsSketch.partials(batch, "item",
            depth = 4, width = 1024)
          prev.fold(part)(CmsSketch.merge(_, part)).localCheckpoint()
      }.getOrElse(throw Streams.noBatch("q217_stream_cms"))
      val probes = sh.filter(col("doc_id") < 5)
        .select(col("item")).distinct()
      val exact = sh.groupBy(col("item"))
        .agg(count(lit(1)).as("exact_df"))
      val out = CmsSketch.estimate(sketch, probes, "item",
          depth = 4, width = 1024)
        .join(exact, Seq("item"))
        .select(col("item"), col("exact_df"), col("est"),
          (col("est") - col("exact_df")).as("over"))
        .orderBy(col("item"))
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),

    // WORDPIECE training (likelihood-scored merges — the BERT family,
    // completing the trio: BPE = frequency, unigram = EM-pruned
    // inventory, WordPiece = count(ab)/(count(a)count(b))): 8 rounds,
    // argmax by the exact fixed-point key — the corpus is touched
    // once, every round is dict-sized, one collected row per round.
    "q218_wordpiece_train" -> ((s, dir) => {
      graft.text.WordPiece.train(
        Tables(s, dir, "documents"), "text", WpK)
    }),

    // ...and the apply side: per-source FERTILITY under the trained
    // merges (pieces per word — the tokenizer-quality number a
    // selection report compares). Segmentation is dictionary-side
    // (distinct words), occurrences join by word key.
    "q219_wordpiece_fertility" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.text.WordPiece.trainMerges(docs, "text", WpK)
      val occ = docs.select(col("source"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("word"))
      val dictSeg = occ.select(col("word")).distinct()
        .withColumn("np",
          size(graft.text.WordPiece.segment(col("word"), merges))
            .cast("long"))
      occ.join(dictSeg, Seq("word"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
        .withColumn("fert_ppm",
          expr("n_pieces * 1000000 div n_words"))
        .orderBy(col("source"))
    }),

    // THREE-WAY tokenizer selection report: q204's BPE-vs-unigram
    // comparison with WordPiece as the third column — all three
    // families trained on the same corpus, per-source fertility side
    // by side (the report that decides which tokenizer a release
    // ships). Segmentation stays dictionary-side for all three.
    "q220_tokenizer_trio" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val bpe = graft.text.Bpe.trainMerges(docs, "text",
        Text.BpeK)
      val uni = graft.text.Unigram.train(docs, "text")
      val wp = graft.text.WordPiece.trainMerges(docs, "text", WpK)
      val src = col("source")
      val occ = docs.select(src,
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("word"))
      val dict = occ.select(col("word")).distinct()
        .withColumn("b_sym",
          size(graft.text.Bpe.segment(col("word"), bpe)).cast("long"))
        .withColumn("u_sym",
          size(uni.segmentCol(col("word"))).cast("long"))
        .withColumn("w_sym",
          size(graft.text.WordPiece.segment(col("word"), wp))
            .cast("long"))
      val per = occ.join(dict, Seq("word"))
        .groupBy(src).agg(
          count(lit(1)).as("n_words"),
          sum(col("b_sym")).as("bpe_tokens"),
          sum(col("u_sym")).as("uni_tokens"),
          sum(col("w_sym")).as("wp_tokens"))
      docs.groupBy(src).agg(count(lit(1)).as("n_docs"))
        .join(per, Seq("source"))
        .select(src, col("n_docs"), col("n_words"),
          col("bpe_tokens"), col("uni_tokens"), col("wp_tokens"),
          expr("bpe_tokens * 1000000 div n_words").as("bpe_fert_ppm"),
          expr("uni_tokens * 1000000 div n_words").as("uni_fert_ppm"),
          expr("wp_tokens * 1000000 div n_words").as("wp_fert_ppm"))
        .orderBy(src)
    }),

    // GRAPH-family purge (the takedown door q139/q153 opened, for the
    // sixth family): purged pages leave the stored edge index through
    // real storage (delete → publish → rehydrate), their OUT-links die
    // with them, in-links from surviving pages persist as dangling
    // targets (the crawl reality — other sites still link there), and
    // ranks recompute over the surviving node set.
    "q221_graph_purge" -> ((s, dir) => {
      import graft.graph.IncrementalGraph
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      var idx = IncrementalGraph.build(
        linkedPages(s, dir), "doc_id", "html")
      idx = IncrementalGraph.delete(idx,
        docs.filter(col("doc_id") % 13 === 5), "doc_id")
      Streams.withCatalog(s, "q221") { cat =>
        IncrementalGraph.save(idx, cat, "crawl")
        val survivors = docs.filter(col("doc_id") % 13 =!= 5)
          .select(col("doc_id").as("node"))
        IncrementalGraph.rank(
            IncrementalGraph.load(cat, "crawl"), survivors, rounds = 5)
          .select(col("node"), (col("node") % 20).as("dom"), col("rank"))
          .orderBy(col("rank").desc, col("node"))
          .limit(100)
      }
    }),

    // CRAWL FRONTIER: 80% of the corpus is fetched (an md5-derived
    // coin — doc_id%5 would confound with the id↔domain correlation
    // and collapse the frontier to 4 domains); fetched pages link
    // across the WHOLE id space, so unfetched targets accumulate
    // in-links — the frontier. Next fetch batch = per domain, top 5
    // by (in-link count, id): in-degree prioritization under a
    // politeness cap, the scheduler a crawler actually runs.
    "q222_crawl_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def coin(c: Column) =
        PortableHash.hash60(c.cast("string"), 55) % 5
      val fetched = linkedPages(s, dir)
        .filter(coin(col("doc_id")) =!= 0)
      val edges = WebGraph.docEdges(
        WebGraph.links(fetched, "doc_id", "html"))
      val frontier = edges.filter(coin(col("dst")) === 0)
        .groupBy(col("dst"))
        .agg(count(lit(1)).as("n_in"))
        .withColumn("dom", col("dst") % 20)
      frontier
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("dom"))
            .orderBy(col("n_in").desc, col("dst"))))
        .filter(col("rk") <= 5)
        .select(col("dst"), col("dom"), col("n_in"), col("rk"))
        .orderBy(col("dom"), col("rk"))
    }),

    // HOST-MIRROR detection: the same normalized content fingerprint
    // served from MULTIPLE hosts (the plant republishes %9 docs under
    // a +3-shifted host and %11 docs under the SAME host — the report
    // must separate true mirrors from same-host dups). Exact-dedup
    // fingerprints keyed per host; one groupBy, no pairs.
    "q223_mirror_report" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val corpus = docs
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 7000003L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"), col("text")))
      corpus
        .select(col("doc_id"), (col("doc_id") % 20).as("dom"),
          graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("dom")).as("n_hosts"),
          min(col("doc_id")).as("lead_doc"))
        .filter(col("n_docs") >= 2)
        .select(col("fp"), col("n_docs"), col("n_hosts"),
          col("lead_doc"))
        .orderBy(col("fp"))
    }),

    // CLUSTER LABELING (the data-map op): every embedding assigned to
    // its portable-IVF coarse bucket, each bucket named by its top-3
    // salient terms — per-cluster tf × corpus idf-ratio (q57's scoring
    // at cluster granularity). The embedding space gets human-readable
    // names; the report a corpus atlas shows.
    "q224_cluster_labels" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val assign = graft.similarity.Similarity.ivfAssignments(
        emb, "vec_id", "embedding", c = Vectors.IvfC,
        iters = Vectors.IvfIters)
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val toks = docs.select(col("doc_id"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("token"))
      val df_ = toks.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = Tables.docCount(s, dir)
      val ctf = toks
        .join(assign, toks("doc_id") === assign("vec_id"))
        .groupBy(col("bucket"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val sizes = assign.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("score").desc, col("token"))
      ctf.join(df_, Seq("token"))
        .withColumn("score",
          col("tf").cast("double") * (lit(n.toDouble) / col("df")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .join(sizes, Seq("bucket"))
        .select(col("bucket"), col("n_vecs"), col("rnk"), col("token"),
          col("score"))
        .orderBy(col("bucket"), col("rnk"))
    }),

    // WordPiece BINARY export: the .bin/.idx loader artifact under the
    // THIRD trained tokenizer — every tokenizer family now drives the
    // same export machinery (whitespace q170, BPE q178, unigram q203,
    // WordPiece here). Segmentation dictionary-side; tape checksum
    // order-pinned.
    "q225_export_wordpiece" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val merges = graft.text.WordPiece.trainMerges(docs, "text", WpK)
      val stream = graft.text.WordPiece.symbolStream(docs, "doc_id",
        "text", merges)
      Streams.withCatalog(s, "q225") { cat =>
        graft.pipeline.Packing.exportShardsOf("doc_id", stream, cat,
          "shards", seqLen = 2048, numGroups = 8)
        Streams.tapeSums(cat)
      }
    }),

    // ROBOTS-style URL rules: each URL takes its LONGEST matching
    // prefix rule (robots.txt precedence; the d3 host is denied except
    // its /p/1* pages — the override only the longest-match rule order
    // gets right), default allow. Per-host crawl-permission report.
    "q226_url_rules" -> ((s, dir) => {
      import s.implicits._
      val rules = Seq(
        ("http://d3.example.com/", "deny"),
        ("http://d3.example.com/p/1", "allow"),
        ("http://d7.example.com/", "deny"),
        ("http://d12.example.com/p/", "deny"),
        ("http://d", "allow")).toDF("pattern", "action")
      val links = WebGraph.links(linkedPages(s, dir), "doc_id", "html")
      val dec = WebGraph.urlDecisions(links.select(col("url")), rules)
      links.join(dec, Seq("url"))
        .select(WebGraph.host(col("url")).as("dst_host"), col("action"))
        .groupBy(col("dst_host"))
        .agg(count(lit(1)).as("n_links"),
          sum(when(col("action") === "allow", 1L).otherwise(0L))
            .as("n_allowed"),
          sum(when(col("action") === "deny", 1L).otherwise(0L))
            .as("n_denied"))
        .orderBy(col("dst_host"))
    }),

    // STREAMING paragraph-scrub door: planted docs land as files, each
    // micro-batch folds its doc-distinct line-df partials (counts ADD
    // across doc-disjoint batches — the sketch-merge contract), and the
    // end-of-stream scrub over the landed corpus replays q212 verbatim.
    "q227_stream_paragraph_scrub" -> ((s, dir) => {
      import java.nio.file.Files
      val planted = paraPlanted(s, dir)
      val land = Streams.landThirds(planted, "doc_id", "graft-q227")
      val cp = Files.createTempDirectory("graft-q227-cp").toString
      val pdf = StreamFold[DataFrame](StreamFold.files(s, land), cp) {
        (prev, batch, _) =>
          StreamFold.addPartials(prev, graft.dedup.Dedup.paragraphDf(
              graft.dedup.Dedup.paragraphs(batch, "doc_id", "ptext"),
              "doc_id"),
            Seq("ph"), Seq("pdf"))
      }.getOrElse(throw Streams.noBatch(
        "q227_stream_paragraph_scrub"))
      val landed = s.read.parquet(land)
      val out = graft.dedup.Dedup.scrubParagraphsWith(
          landed, "doc_id",
          graft.dedup.Dedup.paragraphs(landed, "doc_id", "ptext"),
          pdf, maxDf = 8L)
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Streams.rmTree(land); Streams.rmTree(cp)
      out
    }),

    // TRUSTRANK: teleport mass lands only on the hand-vetted seed set
    // (domains 0-4), so rank measures proximity to TRUST through
    // links — the spam-demotion signal plain PageRank (q208) cannot
    // give, because link volume alone earns teleport there. Same
    // exact-integer round contract.
    "q228_trustrank" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").as("node"))
      val seeds = docs.filter(col("node") % 20 < 5)
      val trust = WebGraph.trustRank(docs, seeds, docEdges(s, dir),
        rounds = 5)
      trust.select(col("node"), (col("node") % 20).as("dom"),
          col("trust"))
        .orderBy(col("trust").desc, col("node"))
        .limit(100)
    }),

    // ...and the per-domain SPAM report: PageRank mass vs TrustRank
    // mass side by side — a domain whose popularity mass far exceeds
    // its trust mass earns rank from link volume, not from anything a
    // trusted page endorses (the demotion candidate list).
    "q229_spam_report" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").as("node"))
      val edges = docEdges(s, dir).localCheckpoint()
      val seeds = docs.filter(col("node") % 20 < 5)
      val pr = WebGraph.pageRank(docs, edges, rounds = 5)
        .groupBy((col("node") % 20).as("dom"))
        .agg(sum(col("rank")).as("pr_mass"))
      val tr = WebGraph.trustRank(docs, seeds, edges, rounds = 5)
        .groupBy((col("node") % 20).as("dom"))
        .agg(sum(col("trust")).as("trust_mass"))
      pr.join(tr, Seq("dom"))
        .select(col("dom"), col("pr_mass"), col("trust_mass"),
          expr("trust_mass * 1000000 div pr_mass").as("trust_ppm"))
        .orderBy(col("dom"))
    }),

    // WARC-container ingestion: the crawl pages land as REAL WARC
    // segment files (one per partition, the distributed-crawler
    // shape) with PER-RECORD GZIP MEMBERS — the framing crawl dumps
    // actually use — are read back through the strict segment parser
    // (magic-byte self-identified, inflated across members), and
    // the recovered markup replays q195's extraction report verbatim
    // — the container roundtrip must not move a byte. Oracle = q195.
    "q230_warc_ingest" -> ((s, dir) => {
      import java.nio.file.Files
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = docs.select(col("doc_id"),
        urlOf(col("doc_id")).as("uri"),
        Crawl.wrapCol(col("doc_id"), col("text")).as("html"))
      val land = Files.createTempDirectory("graft-q230-warc").toString
      graft.sources.Warc.writeSegments(
        pages.repartition(4, col("doc_id")), "uri", "html", land,
        gzip = true)
      val back = graft.sources.Warc.readRecords(s, land)
        .select(regexp_extract(col("uri"), "/p/([0-9]+)$", 1)
          .cast("long").as("doc_id"), col("body").as("html"))
      val out = graft.text.Html.extract(back, "doc_id", "html")
        .withColumnRenamed("text", "__ex")
        .join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          length(col("__ex")).as("text_len"),
          when(col("__ex") ===
            trim(regexp_replace(col("text"), "\\s+", " ")), 1)
            .otherwise(0).as("clean_match"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      Streams.rmTree(land)
      out
    }),

    // ANN QUALITY report: recall@10 and reciprocal rank of the
    // portable LSH index (q41's path) against the exact brute-force
    // answer (q22's path), per query and as exact integer ppm — the
    // index-quality dashboard an ANN deployment watches (the repo's
    // recall curves in BASELINE.md, promoted to a verified query).
    // Measured: ~2% recall@10 on this near-uniform synthetic corpus —
    // the single-probe 8-bit sign-LSH index is honestly weak here,
    // which is precisely the measurement that motivates q136's
    // IVF-PQ + exact re-rank (recall 0.62/0.84). The report exists to
    // SAY that, with both engines agreeing on every per-query number.
    "q231_ann_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      val exact = graft.similarity.Similarity.bruteForceTopK(
        qs, emb, "vec_id", "embedding", 10)
      val approx = graft.similarity.Similarity.portableAnnTopK(
        qs, emb, "vec_id", "embedding", k = 10,
        bits = Vectors.AnnBits)
      Vectors.recallReport(qs, exact, approx)
    })
  )

  private[queries] val WpK = 8

  /** The WordPiece oracle chain: `ww0` (word dict + char wrap) then per
    * round symbol counts `wsc<i>`, pairs `wp<i>`, fixed-point-scored
    * argmax `wb<i>`, merged dict `ww<i>`. MATERIALIZED is load-bearing
    * (the q113 2^k-inlining lesson).
    */
  private def wpCtes(k: Int): String = {
    val sep = "chr(31)"
    val S = graft.text.WordPiece.Scale
    val init =
      s"""ww0 AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         |    list_reduce(list_transform(generate_series(1, length(word)),
         |      i -> $sep || word[i] || $sep), (a, b) -> a || b) AS seg
         |  FROM (SELECT unnest($toksExpr) AS word FROM documents)
         |  GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""wsc$i AS (SELECT sym, CAST(SUM(freq) AS BIGINT) AS scnt
         |  FROM (SELECT freq, unnest(list_filter(string_split(seg, $sep),
         |      x -> x <> '')) AS sym FROM ww${i - 1})
         |  GROUP BY sym),
         |wp$i AS (
         |  SELECT syms[j] AS lhs, syms[j + 1] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq,
         |      list_filter(string_split(seg, $sep), x -> x <> '') AS syms
         |    FROM ww${i - 1}),
         |    UNNEST(generate_series(1, len(syms) - 1)) AS u(j)
         |  GROUP BY 1, 2),
         |wb$i AS MATERIALIZED (SELECT p.lhs, p.rhs, p.cnt,
         |    (((p.cnt * $S) // a.scnt) * $S) // b.scnt AS key
         |  FROM wp$i p
         |  JOIN wsc$i a ON a.sym = p.lhs
         |  JOIN wsc$i b ON b.sym = p.rhs
         |  ORDER BY key DESC, p.lhs ASC, p.rhs ASC LIMIT 1),
         |${Text.mergeRoundSql(s"ww$i", "word, freq", s"wb$i", s"ww${i - 1}")}""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** The messy-URL corpus for q216: same md5-derived targets as
    * [[linkedPages]], three forms per page — plain, HTTPS +
    * uppercase host, ?utm tracking tail.
    */
  private[queries] def messyPages(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = Tables.docCount(s, dir)
    def t(seed: Int) =
      PortableHash.hash60(col("doc_id").cast("string"), seed) % n
    val r0 = concat(lit("<a href=\""), urlOf(t(71)), lit("\">a</a>"))
    val r1 = concat(lit("<a href=\"https://D"),
      (t(72) % 20).cast("string"), lit(".EXAMPLE.COM/p/"),
      t(72).cast("string"), lit("\">b</a>"))
    val r2 = concat(lit("<a href=\""), urlOf(t(73)),
      lit("?utm_source=feed\">c</a>"))
    docs.select(col("doc_id"),
      concat(lit("<html><body>"), r0, r1, r2,
        lit("</body></html>")).as("html"))
  }

  private val NewsletterPara =
    "subscribe to our newsletter today for updates"
  private val DisclaimerPrefix = "all rights reserved by source "

  /** The q212/q227 boilerplate-paragraph plant: `(doc_id, ptext)`. */
  private def paraPlanted(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        when(PortableHash.hash60(col("doc_id").cast("string"), 81)
          % 3 === 0, lit(NewsletterPara)),
        col("text"),
        when(PortableHash.hash60(col("doc_id").cast("string"), 82)
          % 2 === 0, concat(lit(DisclaimerPrefix),
            (col("doc_id") % 20).cast("string")))).as("ptext"))

  lazy val oracleSql: Map[String, String] = Map(

    "q207_link_graph" ->
      s"""WITH $lpagesCte,
         |llinks AS (${WebGraph.linksSql("lpages", "doc_id", "html")})
         |SELECT src % 20 AS src_dom, ${WebGraph.hostSql("url")} AS dst_host,
         |  CAST(count(*) AS BIGINT) AS n_links
         |FROM llinks
         |GROUP BY 1, 2
         |ORDER BY src_dom, dst_host""".stripMargin,

    "q208_pagerank" -> pagerankSql,

    "q209_domain_cap" ->
      s"""WITH $lpagesCte,
         |$linkCtes,
         |${WebGraph.pageRankCtes("documents", "doc_id", "ledges", 5)},
         |dmass AS (SELECT node % 20 AS dom, CAST(SUM(rank) AS BIGINT) AS mass FROM wgr5 GROUP BY 1),
         |drank AS (SELECT dom, mass, row_number() OVER (ORDER BY mass DESC, dom) AS drk FROM dmass),
         |dcap AS (SELECT dom, mass, CASE WHEN drk <= 10 THEN 15 ELSE 8 END AS cap FROM drank),
         |dranked AS (SELECT d.doc_id, d.doc_id % 20 AS dom, d.n_chars,
         |    row_number() OVER (PARTITION BY d.doc_id % 20 ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM documents d)
         |SELECT r.doc_id, r.dom, c.mass, c.cap, r.rk
         |FROM dranked r JOIN dcap c ON c.dom = r.dom
         |WHERE r.rk <= c.cap
         |ORDER BY r.doc_id""".stripMargin,

    "q210_cms_heavy" -> cmsSql,

    "q211_hll_registers" ->
      s"""WITH $itemsCtes,
         |cstream AS (SELECT item FROM citems),
         |${graft.quality.HllSketch.ctes("cstream")},
         |cexact AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_exact FROM cstream)
         |SELECT f.reg, f.max_rho, s.s_sum, s.est, x.n_exact
         |FROM hllfull f, hllsum s, cexact x
         |ORDER BY f.reg""".stripMargin,

    "q212_paragraph_scrub" -> paraScrubSql,
    // fold == one-shot: the streaming door replays q212 verbatim
    "q227_stream_paragraph_scrub" -> paraScrubSql,

    "q226_url_rules" ->
      s"""WITH $lpagesCte,
         |llinks AS (${WebGraph.linksSql("lpages", "doc_id", "html")}),
         |rrules AS (SELECT * FROM (VALUES
         |    ('http://d3.example.com/', 'deny'),
         |    ('http://d3.example.com/p/1', 'allow'),
         |    ('http://d7.example.com/', 'deny'),
         |    ('http://d12.example.com/p/', 'deny'),
         |    ('http://d', 'allow')) AS t(pattern, action)),
         |udist AS (SELECT DISTINCT url FROM llinks),
         |${WebGraph.urlDecisionsCtes("udist", "rrules", "u")}
         |SELECT ${WebGraph.hostSql("l.url")} AS dst_host,
         |  CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(SUM(CASE WHEN d.action = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
         |  CAST(SUM(CASE WHEN d.action = 'deny' THEN 1 ELSE 0 END) AS BIGINT) AS n_denied
         |FROM llinks l JOIN udec d USING (url)
         |GROUP BY 1
         |ORDER BY dst_host""".stripMargin,

    "q228_trustrank" ->
      s"""WITH $lpagesCte,
         |$linkCtes,
         |tseeds AS (SELECT doc_id AS node FROM documents WHERE doc_id % 20 < 5),
         |${WebGraph.trustRankCtes("documents", "doc_id", "tseeds", "ledges", 5)}
         |SELECT node, node % 20 AS dom, rank AS trust
         |FROM wtr5
         |ORDER BY trust DESC, node
         |LIMIT 100""".stripMargin,

    "q229_spam_report" ->
      s"""WITH $lpagesCte,
         |$linkCtes,
         |tseeds AS (SELECT doc_id AS node FROM documents WHERE doc_id % 20 < 5),
         |${WebGraph.pageRankCtes("documents", "doc_id", "ledges", 5)},
         |${WebGraph.trustRankCtes("documents", "doc_id", "tseeds", "ledges", 5)},
         |prm AS (SELECT node % 20 AS dom, CAST(SUM(rank) AS BIGINT) AS pr_mass FROM wgr5 GROUP BY 1),
         |trm AS (SELECT node % 20 AS dom, CAST(SUM(rank) AS BIGINT) AS trust_mass FROM wtr5 GROUP BY 1)
         |SELECT p.dom, p.pr_mass, t.trust_mass,
         |  t.trust_mass * 1000000 // p.pr_mass AS trust_ppm
         |FROM prm p JOIN trm t USING (dom)
         |ORDER BY p.dom""".stripMargin,

    // container roundtrip == identity: replay q195's report verbatim
    "q230_warc_ingest" -> Crawl.htmlExtractSql,

    "q231_ann_recall" -> {
      import Vectors.{annPlanes, dotSql, planeListSql}
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |b AS (SELECT vec_id, e,
         |  ${annPlanes.zipWithIndex.map { case (pl, p) =>
               s"(CASE WHEN ${dotSql("e", planeListSql(pl))} > 0 THEN ${1L << p} ELSE 0 END)"
             }.mkString("\n  + ")} AS bucket,
         |  ${dotSql("e", "e")} AS nrm
         |  FROM emb),
         |q AS (SELECT vec_id AS q_id, e AS qe, bucket, nrm AS nq FROM b WHERE vec_id < 50),
         |acos AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dotSql("q.qe", "c.e")} / sqrt(q.nq * c.nrm) AS cosine
         |  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.q_id),
         |approx AS (SELECT q_id, n_id, rank FROM (
         |  SELECT q_id, n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
         |  FROM acos) t WHERE rank <= 10),
         |ecos AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dotSql("q.qe", "c.e")} / sqrt(q.nq * c.nrm) AS cosine
         |  FROM q JOIN b c ON c.vec_id <> q.q_id),
         |exact AS (SELECT q_id, n_id, rank FROM (
         |  SELECT q_id, n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
         |  FROM ecos) t WHERE rank <= 10),
         |ov AS (SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM exact e JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
         |  GROUP BY e.q_id),
         |rr AS (SELECT e.q_id,
         |    coalesce(CAST(1000000 AS BIGINT) // a.rank, CAST(0 AS BIGINT)) AS rr_ppm
         |  FROM (SELECT q_id, n_id FROM exact WHERE rank = 1) e
         |  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id)
         |SELECT q.q_id, coalesce(o.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
         |  coalesce(o.n_overlap, CAST(0 AS BIGINT)) * 1000000 // 10 AS recall_ppm,
         |  coalesce(r.rr_ppm, CAST(0 AS BIGINT)) AS rr_ppm
         |FROM q LEFT JOIN ov o ON o.q_id = q.q_id
         |LEFT JOIN rr r ON r.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin
    }
  ) ++ oracleSqlTail

  private lazy val paraScrubSql: String =
    s"""WITH pdocs AS (SELECT doc_id, concat_ws(chr(10),
         |    CASE WHEN (${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", 81)}) % 3 = 0 THEN '$NewsletterPara' END,
         |    text,
         |    CASE WHEN (${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", 82)}) % 2 = 0 THEN '$DisclaimerPrefix' || CAST(doc_id % 20 AS VARCHAR) END) AS ptext
         |  FROM documents),
         |ppr0 AS (SELECT doc_id, string_split(ptext, chr(10)) AS ps FROM pdocs),
         |ppr AS (SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, unnest(ps) AS para FROM ppr0),
         |ppn AS (SELECT doc_id, pos, para, ${PortableHash.hash60BaseSql("para")} AS ph FROM ppr WHERE length(trim(para)) > 0),
         |ppdf AS (SELECT ph, CAST(count(*) AS BIGINT) AS pdf FROM (SELECT DISTINCT doc_id, ph FROM ppn) t GROUP BY ph),
         |ppd AS (SELECT n.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_paras,
         |    CAST(coalesce(count(*) FILTER (WHERE f.pdf > 8), 0) AS BIGINT) AS n_dropped,
         |    string_agg(n.para, chr(10) ORDER BY n.pos) FILTER (WHERE f.pdf <= 8) AS clean_text
         |  FROM ppn n JOIN ppdf f ON f.ph = n.ph GROUP BY n.doc_id)
         |SELECT d.doc_id, coalesce(p.clean_text, '') AS clean_text,
         |  coalesce(p.n_paras, CAST(0 AS BIGINT)) AS n_paras,
         |  coalesce(p.n_dropped, CAST(0 AS BIGINT)) AS n_dropped
         |FROM documents d LEFT JOIN ppd p ON p.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  private lazy val oracleSqlTail: Map[String, String] = Map(
    // batched == one-shot: the doors replay q208's graph verbatim
    "q213_incremental_links" -> pagerankSql,
    "q214_stream_links" -> pagerankSql,

    "q215_anchor_text" ->
      s"""WITH $lpagesCte,
         |lanch AS (${WebGraph.anchorsSql("lpages", "doc_id", "html")}),
         |lae AS (SELECT src, CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT) AS dst, anchor
         |  FROM lanch WHERE regexp_extract(url, '/p/([0-9]+)$$', 1) <> '')
         |SELECT dst, CAST(count(*) AS BIGINT) AS n_anchors,
         |  CAST(count(DISTINCT src) AS BIGINT) AS n_srcs,
         |  MIN(anchor) AS anchor_text
         |FROM lae GROUP BY dst
         |ORDER BY n_anchors DESC, dst
         |LIMIT 100""".stripMargin,

    "q216_url_canonical" -> {
      def t(seed: Int) =
        s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", seed)} % (SELECT n FROM mpn))"
      s"""WITH mpn AS (SELECT count(*) AS n FROM documents),
         |mp AS (SELECT doc_id, '<html><body><a href="' || ${urlSqlOf(t(71))} || '">a</a>' ||
         |    '<a href="https://D' || CAST(${t(72)} % 20 AS VARCHAR) || '.EXAMPLE.COM/p/' || CAST(${t(72)} AS VARCHAR) || '">b</a>' ||
         |    '<a href="' || ${urlSqlOf(t(73))} || '?utm_source=feed">c</a></body></html>' AS html
         |  FROM documents),
         |mlinks AS (${WebGraph.linksSql("mp", "doc_id", "html")})
         |SELECT src % 20 AS src_dom, CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
         |  CAST(count(DISTINCT ${WebGraph.canonicalUrlSql("url")}) AS BIGINT) AS n_canon
         |FROM mlinks
         |GROUP BY 1
         |ORDER BY src_dom""".stripMargin
    },

    // batched == one-shot: the door replays q210's sketch verbatim
    "q217_stream_cms" -> cmsSql,

    "q218_wordpiece_train" -> {
      val merges = (1 to WpK).map(i =>
        s"SELECT $i AS rank, lhs, rhs, lhs || rhs AS merged, " +
          s"cnt AS pair_count, key AS score_key FROM wb$i")
        .mkString("\nUNION ALL ")
      s"""WITH ${wpCtes(WpK)}
         |$merges
         |ORDER BY rank""".stripMargin
    },

    "q219_wordpiece_fertility" ->
      s"""WITH ${wpCtes(WpK)},
         |wfin AS (SELECT word,
         |    CAST(len(list_filter(string_split(seg, chr(31)), x -> x <> '')) AS BIGINT) AS np
         |  FROM ww$WpK),
         |wocc AS (SELECT source, unnest($toksExpr) AS word FROM documents)
         |SELECT o.source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(SUM(f.np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(f.np) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS fert_ppm
         |FROM wocc o JOIN wfin f ON f.word = o.word
         |GROUP BY o.source
         |ORDER BY o.source""".stripMargin,

    "q220_tokenizer_trio" ->
      s"""WITH RECURSIVE ${Text.bpeCtes(Text.BpeK)},
         |${Text.unigramTrainCtes("documents")},
         |${wpCtes(WpK)},
         |bstat AS (SELECT word, CAST(len(list_filter(string_split(seg, chr(31)), x -> x <> '')) AS BIGINT) AS b_sym FROM w${Text.BpeK}),
         |ustat AS (SELECT word, CAST(len(list_filter(string_split(s1, chr(31)), x -> x <> '')) AS BIGINT) AS u_sym FROM dp2 WHERE pos = len),
         |wstat AS (SELECT word, CAST(len(list_filter(string_split(seg, chr(31)), x -> x <> '')) AS BIGINT) AS w_sym FROM ww$WpK),
         |docw AS (SELECT doc_id, source, unnest($toksExpr) AS word FROM documents),
         |per AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(SUM(b.b_sym) AS BIGINT) AS bpe_tokens,
         |    CAST(SUM(u.u_sym) AS BIGINT) AS uni_tokens,
         |    CAST(SUM(w.w_sym) AS BIGINT) AS wp_tokens
         |  FROM docw d JOIN bstat b USING (word) JOIN ustat u USING (word) JOIN wstat w USING (word)
         |  GROUP BY d.source),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
         |SELECT n.source, n.n_docs, p.n_words, p.bpe_tokens, p.uni_tokens, p.wp_tokens,
         |  p.bpe_tokens * 1000000 // p.n_words AS bpe_fert_ppm,
         |  p.uni_tokens * 1000000 // p.n_words AS uni_fert_ppm,
         |  p.wp_tokens * 1000000 // p.n_words AS wp_fert_ppm
         |FROM nd n JOIN per p USING (source) ORDER BY n.source""".stripMargin,

    "q221_graph_purge" ->
      s"""WITH $lpagesCte,
         |$linkCtes,
         |pedges AS (SELECT src, dst FROM ledges WHERE src % 13 <> 5),
         |pnodes AS (SELECT doc_id FROM documents WHERE doc_id % 13 <> 5),
         |${WebGraph.pageRankCtes("pnodes", "doc_id", "pedges", 5)}
         |SELECT node, node % 20 AS dom, rank
         |FROM wgr5
         |ORDER BY rank DESC, node
         |LIMIT 100""".stripMargin,

    "q222_crawl_frontier" ->
      s"""WITH $lpagesCte,
         |fpages AS (SELECT doc_id, html FROM lpages WHERE ${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)", 55)} % 5 <> 0),
         |flinks AS (${WebGraph.linksSql("fpages", "doc_id", "html")}),
         |fedges AS (${WebGraph.docEdgesSql("flinks")}),
         |frontier AS (SELECT dst, dst % 20 AS dom, CAST(count(*) AS BIGINT) AS n_in
         |  FROM fedges WHERE ${PortableHash.hash60Sql("CAST(dst AS VARCHAR)", 55)} % 5 = 0 GROUP BY dst),
         |ranked AS (SELECT dst, dom, n_in,
         |    row_number() OVER (PARTITION BY dom ORDER BY n_in DESC, dst) AS rk
         |  FROM frontier)
         |SELECT dst, dom, n_in, rk FROM ranked
         |WHERE rk <= 5
         |ORDER BY dom, rk""".stripMargin,

    "q223_mirror_report" ->
      s"""WITH mcorpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 7000003, text FROM documents WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000, text FROM documents WHERE doc_id % 11 = 0),
         |mfp AS (SELECT doc_id, doc_id % 20 AS dom,
         |    md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
         |  FROM mcorpus)
         |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT dom) AS BIGINT) AS n_hosts,
         |  min(doc_id) AS lead_doc
         |FROM mfp
         |GROUP BY fp
         |HAVING count(*) >= 2
         |ORDER BY fp""".stripMargin,

    "q224_cluster_labels" ->
      s"""WITH qz AS (SELECT vec_id, list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
         |      list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mab
         |    FROM embeddings)
         |  WHERE mab > 0),
         |c0 AS (SELECT cluster, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
         |  FROM (SELECT vec_id, qd,
         |          ${PortableHash.hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE cluster < ${Vectors.IvfC}),
         |${(1 to Vectors.IvfIters)
             .map(Vectors.ivfStepSql).mkString(",\n")},
         |cb AS (SELECT vec_id, cluster AS bucket FROM (
         |  SELECT z.vec_id, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${Vectors.distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c${Vectors.IvfIters} c)
         |  WHERE rn = 1),
         |ltoks AS (SELECT doc_id, unnest($toksExpr) AS token FROM documents),
         |ldf AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM (SELECT DISTINCT doc_id, token FROM ltoks) t GROUP BY token),
         |lnd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         |lctf AS (SELECT b.bucket, t.token, CAST(count(*) AS BIGINT) AS tf
         |  FROM ltoks t JOIN cb b ON b.vec_id = t.doc_id
         |  GROUP BY b.bucket, t.token),
         |lsz AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs FROM cb GROUP BY bucket),
         |lsc AS (SELECT bucket, token, CAST(tf AS DOUBLE) * ((SELECT nd FROM lnd) / df) AS score FROM lctf JOIN ldf USING (token)),
         |lrk AS (SELECT bucket, token, score,
         |    row_number() OVER (PARTITION BY bucket ORDER BY score DESC, token) AS rnk
         |  FROM lsc)
         |SELECT r.bucket, s.n_vecs, r.rnk, r.token, r.score
         |FROM lrk r JOIN lsz s USING (bucket)
         |WHERE r.rnk <= 3
         |ORDER BY r.bucket, r.rnk""".stripMargin,

    "q225_export_wordpiece" ->
      s"""WITH ${wpCtes(WpK)},
         |uws AS (SELECT word, list_filter(string_split(seg, chr(31)), x -> x <> '') AS syms FROM ww$WpK),
         |${Text.dictSymsSql},
         |${Text.symTapeSql}""".stripMargin
  )

  private lazy val cmsSql: String =
    s"""WITH $itemsCtes,
       |cstream AS (SELECT item FROM citems),
       |cprobes AS (SELECT DISTINCT item FROM citems WHERE doc_id < 5),
       |${graft.quality.CmsSketch.ctes("cstream", "cprobes", 4, 1024)},
       |cexact AS (SELECT item, CAST(count(*) AS BIGINT) AS exact_df FROM citems GROUP BY item)
       |SELECT e.item, x.exact_df, e.est, e.est - x.exact_df AS over
       |FROM cmsest e JOIN cexact x ON x.item = e.item
       |ORDER BY e.item""".stripMargin

  private lazy val pagerankSql: String =
    s"""WITH $lpagesCte,
       |$linkCtes,
       |${WebGraph.pageRankCtes("documents", "doc_id", "ledges", 5)}
       |SELECT node, node % 20 AS dom, rank
       |FROM wgr5
       |ORDER BY rank DESC, node
       |LIMIT 100""".stripMargin
}
