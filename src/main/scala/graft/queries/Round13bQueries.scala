package graft.queries

import graft.queries.fixtures.Crawl.{urlOf, urlSqlOf}
import graft.queries.fixtures.{Crawl, Streams, Text}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 continuation: the crawl-side companions the round-13 graph
  * family still lacked — sitemap parsing (the discovery side of
  * robots.txt), BFS crawl depth from a seed set (the hop-count quality
  * feature), the byte-fallback tokenizer artifact (the OTHER unk-free
  * contract next to q232's reserved `<unk>`), and host-scoped
  * boilerplate scrubbing (CCNet/RefinedWeb's per-site line dedup,
  * which global-df scrubbing q212 cannot express).
  *
  * Reference scope: nothing here maps to
  * /root/reference/SCD_script.txt — these are training-data-pipeline
  * operators the north star adds on top.
  */
object Round13bQueries extends QueryGroup {

  // ---- q245's repetition plants --------------------------------------
  // The corpus is single-line ~300-char docs, so the fine Gopher
  // signals are near-zero naturally; two exclusive plants (keyed on
  // doc_id div 20 — % 20 IS the source, the decorrelation rule) make
  // each gate observable:
  //   j%5==2 → 40-char prefix + a 6-token phrase repeated 4x (one
  //            line): top-{2,3,4}-gram and dup-5-gram fire, dup-line
  //            stays 0 (single line);
  //   j%3==0 → text + THREE identical ~59-char lines: dup_line_frac
  //            = 0.5 everywhere, dup_line_char_frac straddles 0.20
  //            with text length (118/(len+177)) — and the tripled
  //            line's own 5-grams legitimately fire dup5.
  private val RepPromo = "win a prize now click here "
  private val RepNav =
    "Breaking update from our network partners around the world"

  private[queries] def repPages(s: SparkSession, dir: String)
      : DataFrame = {
    val j = expr("doc_id div 20")
    Tables(s, dir, "documents").select(col("doc_id"),
      when(j % 5 === 2,
        concat(substring(col("text"), 1, 40), lit(" "),
          lit(RepPromo * 4)))
        .when(j % 3 === 0,
          concat_ws("\n", col("text"), lit(RepNav), lit(RepNav),
            lit(RepNav)))
        .otherwise(col("text")).as("ptext"))
  }

  private val repPagesCte: String =
    s"""rpdocs AS (SELECT doc_id,
       |    CASE WHEN (doc_id // 20) % 5 = 2
       |      THEN substr(text, 1, 40) || ' ' ||
       |        repeat('$RepPromo', 4)
       |    WHEN (doc_id // 20) % 3 = 0
       |      THEN text || chr(10) || '$RepNav' || chr(10) ||
       |        '$RepNav' || chr(10) || '$RepNav'
       |    ELSE text END AS ptext
       |  FROM documents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SITEMAP parse → coverage report: each host publishes a
    // sitemap.xml declaring 40% of its pages (doc_id % 5 < 2) with a
    // lastmod freshness hint; parseSitemaps lifts the <url> entries
    // into rows, and the report reconciles DECLARED urls against the
    // urls the crawl actually DISCOVERED via links (q207's corpus) —
    // the frontier-seeding comparison (sitemap-only urls are fetch
    // candidates links never surface; link-only urls are pages the
    // site forgot to declare). Per host: declared, link-discovered
    // (distinct), their overlap, and the newest lastmod.
    "q241_sitemap_parse" -> ((s, dir) => {
      import graft.graph.WebGraph
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val entry = concat(lit("<url><loc>"), urlOf(col("doc_id")),
        lit("</loc><lastmod>2026-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod></url>"))
      // the XML assembly is per-host (20 rows out) — the model-sized
      // HOF exemption; the PARSER under test is per-row codegen
      val maps = docs.filter(col("doc_id") % 5 < 2)
        .select((col("doc_id") % 20).as("k"), col("doc_id"),
          entry.as("e"))
        .groupBy(col("k"))
        .agg(concat(lit("<urlset>"),
          array_join(transform(
            sort_array(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), ""),
          lit("</urlset>")).as("xml"))
        .select(concat(lit("d"), col("k").cast("string"),
          lit(".example.com")).as("host"), col("xml"))
      val sm = WebGraph.parseSitemaps(maps, "host", "xml")
      val linked = WebGraph.links(
          Crawl.linkedPages(s, dir), "doc_id", "html")
        .select(WebGraph.host(col("url")).as("host"), col("url"))
        .distinct()
      val declAgg = sm.groupBy(col("host"))
        .agg(count(lit(1)).as("n_declared"),
          max(col("lastmod")).as("max_lastmod"))
      val linkAgg = linked.groupBy(col("host"))
        .agg(count(lit(1)).as("n_linked"))
      val bothAgg = sm.select(col("host"), col("url"))
        .join(linked, Seq("host", "url"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_both"))
      val spine = docs.select(concat(lit("d"),
          (col("doc_id") % 20).cast("string"),
          lit(".example.com")).as("host")).distinct()
      spine.join(declAgg, Seq("host"), "left")
        .join(linkAgg, Seq("host"), "left")
        .join(bothAgg, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_declared"), lit(0L)).as("n_declared"),
          coalesce(col("n_linked"), lit(0L)).as("n_linked"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          coalesce(col("max_lastmod"), lit("")).as("max_lastmod"))
        .orderBy(col("host"))
    }),

    // CRAWL DEPTH: exact BFS hop distance from the trusted seed set
    // (doc_id % 97 = 0) over the crawled doc graph — the hop-count
    // quality feature (TrustRank's intuition as a depth, pages far
    // from every seed skew spam). Frontier-only expansion: each edge
    // is expanded exactly once across the whole run. Report: docs per
    // (domain, depth), −1 = unreached within 6 hops.
    "q242_crawl_depth" -> ((s, dir) => {
      import graft.graph.WebGraph
      val nodes = Tables(s, dir, "documents")
        .select(col("doc_id").as("node"))
      val edges = WebGraph.docEdges(
        WebGraph.links(Crawl.linkedPages(s, dir),
          "doc_id", "html"))
      val seeds = nodes.filter(col("node") % 97 === 0)
      WebGraph.hopDistance(nodes, edges, seeds, maxHops = 6)
        .groupBy((col("node") % 20).as("dom"), col("dist"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("dom"), col("dist"))
    }),

    // BYTE-FALLBACK export — q232's held-out encoding under the OTHER
    // unk-free contract: instead of collapsing OOV tokens onto one
    // reserved <unk>, each OOV symbol DECOMPOSES into reserved byte
    // pieces (ids 0–255; trained ids shift +256, SentencePiece's
    // byte_fallback layout), so the tape is non-negative AND lossless
    // — the planted x/z words round-trip as bytes instead of
    // flattening to a single id. Output per sequence: checksum, the
    // byte-piece count (the fallback actually fired), and the
    // tape-wide min id read back from the published artifact.
    "q243_byte_fallback" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val train = docs.filter(col("doc_id") % 3 =!= 0)
      import s.implicits._
      val held = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(Seq((9999991L, Text.PlantedHeldOut))
          .toDF("doc_id", "text"))
      val merges = graft.text.Bpe.trainMerges(train, "text",
        Text.BpeK)
      val voc = graft.text.Bpe.vocab(train, "text", merges)
      val stream = graft.pipeline.Packing.byteFallbackStream(
        graft.text.Bpe.symbolStream(held, "doc_id", "text", merges),
        "doc_id", voc)
      Streams.withCatalog(s, "q243") { cat =>
        graft.pipeline.Packing.exportShardsOf("doc_id", stream, cat,
          "shards", seqLen = 2048, numGroups = 8,
          vocabIds = Some(graft.pipeline.Packing.reserveBytes(voc)))
        val (bin, _) = graft.pipeline.Packing.readShards(cat, "shards")
        // per-sequence HOF lambdas are bounded (≤ 2048 elements) — the
        // per-doc exemption, not a corpus-sized CodegenFallback path
        bin
          .select(col("grp"), col("seq"), col("n_tok"),
            graft.functions.TokenBinary.weightedSumCol(col("tokens"))
              .as("tok_wsum"),
            size(filter(
              graft.functions.TokenBinary.unpackCol(col("tokens")),
              t => t < 256)).cast("long").as("n_byte"),
            array_min(
              graft.functions.TokenBinary.unpackCol(col("tokens")))
              .cast("long").as("min_tid"))
          .orderBy(col("grp"), col("seq"))
      }
    }),

    // HOST-scoped boilerplate scrub: per-site line dedup with a
    // host-RELATIVE threshold (≥ 50% of the host's docs, floor df 2).
    // The plant makes the semantics observable: the 2/3-frequency nav
    // line scrubs on every host, the 1/4-frequency site-map line
    // survives (fraction, not presence), and the corpus-global
    // newsletter line survives everywhere (its ~9% per-host rate is
    // under threshold even though its GLOBAL df would trip q212's
    // absolute cap ~1000-fold).
    "q244_host_boilerplate" -> ((s, dir) => {
      graft.dedup.Dedup.scrubHostBoilerplate(Crawl.boilPages(s, dir),
          "doc_id", "host", "ptext", minPpm = 500000L, minDf = 2L)
        .orderBy(col("doc_id"))
    }),

    // FINE-GRAINED Gopher repetition report (Rae et al. Table A1):
    // duplicate-line fraction + char fraction, heaviest-duplicated
    // {2,3,4}-gram char mass, duplicate-5-gram char COVERAGE (each
    // position counted once), and the six-way OR gate — the per-doc
    // repetition family q90's coarse pair (top bigram + unique frac)
    // doesn't cover. Exact integer counts, one double division each.
    "q245_fine_repetition" -> ((s, dir) => {
      graft.text.Repetition.fineSignals(repPages(s, dir),
          "doc_id", "ptext")
        .orderBy(col("doc_id"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q241_sitemap_parse" ->
      s"""WITH ${Crawl.lpagesCte},
         |llinks AS (${graft.graph.WebGraph.linksSql(
             "lpages", "doc_id", "html")}),
         |smdecl AS (SELECT doc_id % 20 AS k, doc_id,
         |    '<url><loc>' ||
         |    ${urlSqlOf("doc_id")} ||
         |    '</loc><lastmod>2026-01-' ||
         |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
         |    '</lastmod></url>' AS e
         |  FROM documents WHERE doc_id % 5 < 2),
         |smxml AS (SELECT
         |    'd' || CAST(k AS VARCHAR) || '.example.com' AS host,
         |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) ||
         |    '</urlset>' AS xml
         |  FROM smdecl GROUP BY k),
         |${graft.graph.WebGraph.parseSitemapsCtes(
             "smxml", "host", "xml")},
         |smlinked AS (SELECT DISTINCT
         |    ${graft.graph.WebGraph.hostSql("url")} AS host, url
         |  FROM llinks),
         |smda AS (SELECT host, CAST(count(*) AS BIGINT) AS n_declared,
         |    MAX(lastmod) AS max_lastmod
         |  FROM psmaps GROUP BY host),
         |smla AS (SELECT host, CAST(count(*) AS BIGINT) AS n_linked
         |  FROM smlinked GROUP BY host),
         |smba AS (SELECT d.host, CAST(count(*) AS BIGINT) AS n_both
         |  FROM psmaps d JOIN smlinked l
         |    ON l.host = d.host AND l.url = d.url
         |  GROUP BY d.host),
         |smspine AS (SELECT DISTINCT
         |    ${Crawl.docHostSql} AS host
         |  FROM documents)
         |SELECT s.host,
         |  coalesce(d.n_declared, CAST(0 AS BIGINT)) AS n_declared,
         |  coalesce(l.n_linked, CAST(0 AS BIGINT)) AS n_linked,
         |  coalesce(b.n_both, CAST(0 AS BIGINT)) AS n_both,
         |  coalesce(d.max_lastmod, '') AS max_lastmod
         |FROM smspine s
         |LEFT JOIN smda d ON d.host = s.host
         |LEFT JOIN smla l ON l.host = s.host
         |LEFT JOIN smba b ON b.host = s.host
         |ORDER BY s.host""".stripMargin,

    "q242_crawl_depth" ->
      s"""WITH ${Crawl.lpagesCte},
         |${Crawl.linkCtes},
         |hseeds AS (SELECT doc_id AS node FROM documents
         |  WHERE doc_id % 97 = 0),
         |${graft.graph.WebGraph.hopDistanceCtes(
             "documents", "doc_id", "ledges", "hseeds", 6)}
         |SELECT node % 20 AS dom, dist,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM hddist GROUP BY 1, 2
         |ORDER BY dom, dist""".stripMargin,

    // q232's oracle chain up to the segmented held-out symbols (syh),
    // then the byte-fallback id assignment: in-vocab syms take
    // vid + 255 (the 1-based ROW_NUMBER re-based by +256 onto 0-based
    // trained ids), OOV syms explode into per-char byte ids via ord().
    "q243_byte_fallback" ->
      s"""WITH ${Text.heldOutSymsSql(9999991, Text.PlantedHeldOut)},
         |bfin AS (SELECT s.doc_id, s.wpos, s.spos, 0 AS cpos,
         |    v.vid + 255 AS tid
         |  FROM syh s JOIN vid v ON v.token = s.sym),
         |bfoov AS (SELECT s.doc_id, s.wpos, s.spos, j AS cpos,
         |    ord(s.sym[j]) AS tid
         |  FROM (SELECT y.doc_id, y.wpos, y.spos, y.sym FROM syh y
         |    LEFT JOIN vid v ON v.token = y.sym
         |    WHERE v.token IS NULL) s,
         |  UNNEST(generate_series(1, length(s.sym))) AS u(j)),
         |bg AS (SELECT doc_id, tid,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY wpos, spos, cpos) - 1 AS gpos
         |  FROM (SELECT * FROM bfin UNION ALL SELECT * FROM bfoov) t),
         |bcnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
         |  FROM bg GROUP BY doc_id),
         |bp AS (SELECT doc_id, doc_id % 8 AS grp, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - n_tok AS start_tok
         |  FROM bcnt),
         |btok AS (SELECT p.grp, (p.start_tok + g.gpos) // 2048 AS seq,
         |    (p.start_tok + g.gpos) % 2048 AS off, g.tid
         |  FROM bg g JOIN bp p USING (doc_id))
         |SELECT grp, seq, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  CAST(SUM((off + 1) * tid) AS BIGINT) AS tok_wsum,
         |  CAST(SUM(CASE WHEN tid < 256 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_byte,
         |  CAST(MIN(tid) AS BIGINT) AS min_tid
         |FROM btok GROUP BY grp, seq ORDER BY grp, seq""".stripMargin,

    "q244_host_boilerplate" -> Crawl.hostBoilerplateSql,

    // Gram keys join tokens with chr(31) (concatenation without a
    // separator would alias "ab c" with "a bc"); char masses count
    // token characters only. Every fraction is one BIGINT/BIGINT
    // double division behind a den>0 guard — bit-identical on both
    // engines.
    "q245_fine_repetition" ->
      s"""WITH $repPagesCte,
         |rl AS (SELECT doc_id, line, CAST(length(line) AS BIGINT) AS len
         |  FROM (SELECT doc_id,
         |      unnest(string_split(ptext, chr(10))) AS line FROM rpdocs) t
         |  WHERE length(trim(line)) > 0),
         |rlg AS (SELECT doc_id, line, CAST(count(*) AS BIGINT) AS c,
         |    MAX(len) AS len
         |  FROM rl GROUP BY doc_id, line),
         |rld AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
         |    CAST(count(*) AS BIGINT) AS n_dl,
         |    CAST(SUM(c * len) AS BIGINT) AS line_chars,
         |    CAST(SUM((c - 1) * len) AS BIGINT) AS dup_line_chars
         |  FROM rlg GROUP BY doc_id),
         |rts AS MATERIALIZED (SELECT doc_id,
         |    list_filter(string_split_regex(ptext, '\\s+'),
         |      x -> x <> '') AS ts
         |  FROM rpdocs),
         |rtk AS MATERIALIZED (SELECT doc_id, i AS pos, ts[i] AS tok,
         |    CAST(length(ts[i]) AS BIGINT) AS len
         |  FROM rts, UNNEST(generate_series(1, len(ts))) AS u(i)),
         |rtd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(SUM(len) AS BIGINT) AS n_chars
         |  FROM rtk GROUP BY doc_id),
         |rg234 AS (
         |  SELECT doc_id, 2 AS n, ts[i] || chr(31) || ts[i+1] AS gram,
         |      CAST(length(ts[i]) + length(ts[i+1]) AS BIGINT) AS glen
         |    FROM rts, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
         |  UNION ALL
         |  SELECT doc_id, 3, ts[i] || chr(31) || ts[i+1] || chr(31) ||
         |      ts[i+2],
         |      CAST(length(ts[i]) + length(ts[i+1]) + length(ts[i+2])
         |        AS BIGINT)
         |    FROM rts, UNNEST(generate_series(1, len(ts) - 2)) AS u(i)
         |  UNION ALL
         |  SELECT doc_id, 4, ts[i] || chr(31) || ts[i+1] || chr(31) ||
         |      ts[i+2] || chr(31) || ts[i+3],
         |      CAST(length(ts[i]) + length(ts[i+1]) + length(ts[i+2]) +
         |        length(ts[i+3]) AS BIGINT)
         |    FROM rts, UNNEST(generate_series(1, len(ts) - 3)) AS u(i)),
         |rtm AS (SELECT doc_id,
         |    MAX(CASE WHEN n = 2 THEN mass END) AS m2,
         |    MAX(CASE WHEN n = 3 THEN mass END) AS m3,
         |    MAX(CASE WHEN n = 4 THEN mass END) AS m4
         |  FROM (SELECT doc_id, n, gram,
         |      CAST(count(*) AS BIGINT) * MAX(glen) AS mass
         |    FROM rg234 GROUP BY doc_id, n, gram
         |    HAVING count(*) >= 2) g
         |  GROUP BY doc_id),
         |rg5 AS MATERIALIZED (SELECT doc_id, i AS pos,
         |    ts[i] || chr(31) || ts[i+1] || chr(31) || ts[i+2] ||
         |    chr(31) || ts[i+3] || chr(31) || ts[i+4] AS g5
         |  FROM rts, UNNEST(generate_series(1, len(ts) - 4)) AS u(i)),
         |rg5d AS (SELECT doc_id, g5 FROM rg5
         |  GROUP BY doc_id, g5 HAVING count(*) >= 2),
         |rg5c AS (SELECT DISTINCT r.doc_id, r.pos + o AS cpos
         |  FROM rg5 r JOIN rg5d d ON d.doc_id = r.doc_id AND d.g5 = r.g5,
         |  UNNEST(generate_series(0, 4)) AS v(o)),
         |rg5s AS (SELECT c.doc_id, CAST(SUM(t.len) AS BIGINT) AS dup5_chars
         |  FROM rg5c c JOIN rtk t
         |    ON t.doc_id = c.doc_id AND t.pos = c.cpos
         |  GROUP BY c.doc_id),
         |rfr AS (SELECT d.doc_id,
         |    coalesce(l.n_lines, CAST(0 AS BIGINT)) AS n_lines,
         |    coalesce(k.n_tok, CAST(0 AS BIGINT)) AS n_tok,
         |    CASE WHEN coalesce(l.n_lines, 0) > 0 THEN
         |      CAST(coalesce(l.n_lines, 0) - coalesce(l.n_dl, 0) AS DOUBLE)
         |        / CAST(coalesce(l.n_lines, 0) AS DOUBLE)
         |    ELSE 0.0 END AS dup_line_frac,
         |    CASE WHEN coalesce(l.line_chars, 0) > 0 THEN
         |      CAST(coalesce(l.dup_line_chars, 0) AS DOUBLE)
         |        / CAST(coalesce(l.line_chars, 0) AS DOUBLE)
         |    ELSE 0.0 END AS dup_line_char_frac,
         |    CASE WHEN coalesce(k.n_chars, 0) > 0 THEN
         |      CAST(coalesce(m.m2, 0) AS DOUBLE)
         |        / CAST(coalesce(k.n_chars, 0) AS DOUBLE)
         |    ELSE 0.0 END AS top2_char_frac,
         |    CASE WHEN coalesce(k.n_chars, 0) > 0 THEN
         |      CAST(coalesce(m.m3, 0) AS DOUBLE)
         |        / CAST(coalesce(k.n_chars, 0) AS DOUBLE)
         |    ELSE 0.0 END AS top3_char_frac,
         |    CASE WHEN coalesce(k.n_chars, 0) > 0 THEN
         |      CAST(coalesce(m.m4, 0) AS DOUBLE)
         |        / CAST(coalesce(k.n_chars, 0) AS DOUBLE)
         |    ELSE 0.0 END AS top4_char_frac,
         |    CASE WHEN coalesce(k.n_chars, 0) > 0 THEN
         |      CAST(coalesce(s.dup5_chars, 0) AS DOUBLE)
         |        / CAST(coalesce(k.n_chars, 0) AS DOUBLE)
         |    ELSE 0.0 END AS dup5_char_frac
         |  FROM rpdocs d
         |  LEFT JOIN rld l ON l.doc_id = d.doc_id
         |  LEFT JOIN rtd k ON k.doc_id = d.doc_id
         |  LEFT JOIN rtm m ON m.doc_id = d.doc_id
         |  LEFT JOIN rg5s s ON s.doc_id = d.doc_id)
         |SELECT doc_id, n_lines, n_tok, dup_line_frac,
         |  dup_line_char_frac, top2_char_frac, top3_char_frac,
         |  top4_char_frac, dup5_char_frac,
         |  (dup_line_frac > 0.30 OR dup_line_char_frac > 0.20 OR
         |   top2_char_frac > 0.20 OR top3_char_frac > 0.18 OR
         |   top4_char_frac > 0.16 OR dup5_char_frac > 0.15)
         |    AS repetitive_fine
         |FROM rfr ORDER BY doc_id""".stripMargin,
  )
}
