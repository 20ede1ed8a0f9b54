package graft.queries

import graft.multimodal.Multimodal
import graft.queries.fixtures.Vectors.dotSql
import graft.similarity.Similarity
import graft.sources.Tables
import graft.streaming.Sessionize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search, multimodal plumbing, and event/stream analytics as
  * oracle-checked queries (q22-q26). Cosine values are bit-identical to
  * DuckDB because both sides compute strict left folds over the same
  * doubles (see [[graft.similarity.Similarity]]).
  */
object VectorQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-10 for 5 query vectors — the ANN baseline.
    "q22_cosine_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Embedding near-dup pairs (cosine >= 0.99) on a corpus with planted
    // scaled copies (vec_id%10 -> id+100000, embedding*2: cosine 1.0).
    "q23_cosine_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Similarity.cosinePairs(emb.unionByName(planted), "vec_id", "embedding",
        0.99)
        .orderBy(col("a"), col("b"))
    }),

    // Multimodal plumbing: binary payload synthesis, header metadata,
    // deterministic frame sampling (decode itself is stubbed; see
    // graft.multimodal.Multimodal).
    "q24_multimodal" -> ((s, dir) => {
      val media = Multimodal.synthesize(Tables(s, dir, "documents"))
      Multimodal.sampleFrames(media)
        .join(media.select(col("doc_id"), col("n_bytes"), col("width"),
          col("height")), Seq("doc_id"))
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("n_frames"), col("frame_idx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Multimodal byte features: REAL (non-stub) payload analysis — mean/
    // min/max byte, distinct bytes, collision mass (exact Rényi-2
    // entropy core) via hex + explode + two keyed aggregations.
    "q71_multimodal_bytes" -> ((s, dir) => {
      Multimodal.byteFeatures(
        Multimodal.synthesize(Tables(s, dir, "documents")))
        .orderBy(col("doc_id"))
    }),

    // Sessionization: 30-min inactivity splits over the event stream,
    // session-level rollup. Microsecond integers on both engines (DuckDB
    // truncates parquet ns timestamps to us on read).
    "q25_sessionize" -> ((s, dir) => {
      Sessionize.sessions(Tables(s, dir, "events"), "user_id", "ts_us",
        "event_id", 30L * 60 * 1000 * 1000)
        .withColumnRenamed("first_event", "first_event_id")
        .withColumnRenamed("duration", "duration_us")
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // LSH-accelerated ANN — the 100 TB path (dense md5-constant planes).
    // The plane components are plan-time CONSTANTS, so the oracle embeds
    // the same integers and replays the identical IEEE op sequence
    // (divide, subtract, fold) — hash-checked like the ±1 sibling q41;
    // recall vs brute force is asserted in SimilaritySpec.
    "q27_ann_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 50), emb, "vec_id",
        "embedding", k = 10, bits = LshBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Multimodal decode with a REAL codec: synthesizeBmp writes genuine
    // 24-bit BMPs (header + bottom-up padded BGR rows) whose pixel
    // stream follows a generative formula; the engine round-trips them
    // through Bmp.decode while the oracle replays the formula
    // arithmetically — decoded dimensions and mean brightness
    // hash-check.
    "q28_multimodal_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.synthesizeBmp(Tables(s, dir, "documents"))
      Multimodal.decode(media).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("n_pixel_bytes"), col("brightness"))
        .orderBy(col("doc_id"))
    }),

    // JSON column surface: parse events.props with a declared schema
    // (from_json, codegen'd Jackson parse) and aggregate the extracted
    // field. Integer aggregates -> engine-exact.
    "q31_json" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(when(col("k") > 50, 1)).as("n_large"))
        .orderBy(col("event_type"))
    }),

    // Funnel analysis: per-user event journeys as ordered initial-letter
    // strings, stages matched as regex SUBSEQUENCES (view -> click ->
    // purchase) — ordered-pattern analytics without a sequential scan
    // operator.
    "q61_funnel" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          substring(col("event_type"), 1, 1).as("l"))
      val journeys = ev.groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"),
            col("l")))), x => x.getField("l")), "").as("journey"))
      journeys.agg(
        count(lit(1)).as("n_users"),
        count(when(col("journey").rlike("v"), 1)).as("reached_view"),
        count(when(col("journey").rlike("v.*c"), 1)).as("reached_click"),
        count(when(col("journey").rlike("v.*c.*p"), 1)).as("reached_purchase"))
    }),

    // Tumbling-window aggregation — the batch shape of the streaming
    // windowed agg (same plan under readStream).
    "q26_stream_window" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"), col("n_users"))
        .orderBy(col("window_start"), col("event_type"))
    })
  )

  /** q27's dense hyperplanes as the md5-derived INTEGERS k = h % 1e6;
    * both engines then compute component = k/2e6 - 0.25 with the same
    * two IEEE ops (see [[Similarity.hyperplanes]]) — bit-identical.
    */
  private val LshBits = 6
  private def densePlaneSql(p: Int): String =
    Array.tabulate(64)(i =>
      graft.functions.TextHash.md5Low60(s"plane:$p:$i") % 1000000L)
      .map(k => s"($k::DOUBLE / 2000000.0 - 0.25)")
      .mkString("([", ",", "]::DOUBLE[])")

  val oracleSql: Map[String, String] = Map(
    "q28_multimodal_decode" ->
      """WITH m AS (SELECT doc_id,
        |    ('0x'||substr(md5(text),1,2))::INT % 16 + 1 AS width,
        |    ('0x'||substr(md5(text),3,2))::INT % 16 + 1 AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  width * height * 3 AS n_pixel_bytes,
        |  CAST(list_sum(list_transform(generate_series(0, width*height*3 - 1),
        |         i -> (doc_id + i) % 256)) AS DOUBLE)
        |    / (width * height * 3) / 255.0 AS brightness
        |FROM m ORDER BY doc_id""".stripMargin,
    "q27_ann_lsh" ->
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |b AS (SELECT vec_id, e,
         |  ${(0 until LshBits).map { p =>
             s"(CASE WHEN ${dotSql("e", densePlaneSql(p))} > 0 THEN ${1L << p} ELSE 0 END)"
           }.mkString("\n  + ")} AS bucket,
         |  ${dotSql("e", "e")} AS nrm
         |  FROM emb),
         |q AS (SELECT vec_id AS q_id, e AS qe, bucket, nrm AS nq FROM b WHERE vec_id < 50),
         |cos AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dotSql("q.qe", "c.e")} / sqrt(q.nq * c.nrm) AS cosine
         |  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.q_id)
         |SELECT q_id, n_id, cosine, rank FROM (
         |  SELECT q_id, n_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
         |  FROM cos) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q22_cosine_topk" ->
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM emb WHERE vec_id < 5),
         |cos AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dotSql("q.qe", "c.e")} / sqrt(${dotSql("q.qe", "q.qe")} * ${dotSql("c.e", "c.e")}) AS cosine
         |  FROM q, emb c WHERE c.vec_id <> q.q_id)
         |SELECT q_id, n_id, cosine, rank FROM (
         |  SELECT q_id, n_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
         |  FROM cos) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q23_cosine_dedup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |    list_transform(embedding::DOUBLE[], v -> v * 2.0) AS e
         |  FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |  ${dotSql("x.e", "y.e")} / sqrt(${dotSql("x.e", "x.e")} * ${dotSql("y.e", "y.e")}) AS cosine
         |FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id
         |WHERE ${dotSql("x.e", "y.e")} / sqrt(${dotSql("x.e", "x.e")} * ${dotSql("y.e", "y.e")}) >= 0.99
         |ORDER BY a, b""".stripMargin,
    "q24_multimodal" ->
      """WITH media AS (
        |  SELECT doc_id,
        |    octet_length(from_hex(md5(text))) AS n_bytes,
        |    (('0x'||substr(md5(text),1,2))::INT % 64) * 16 + 32 AS width,
        |    (('0x'||substr(md5(text),3,2))::INT % 64) * 16 + 32 AS height,
        |    ('0x'||substr(md5(text),5,2))::INT % 8 + 1 AS n_frames
        |  FROM documents)
        |SELECT doc_id, n_bytes, width, height, n_frames,
        |  unnest(generate_series(0, n_frames - 1)) AS frame_idx
        |FROM media ORDER BY doc_id, frame_idx""".stripMargin,
    "q71_multimodal_bytes" ->
      """WITH bytes AS (
        |  SELECT doc_id, ('0x'||substr(md5(text), 2*i + 1, 2))::INT AS b
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) idx),
        |pv AS (SELECT doc_id, b, COUNT(*) AS c FROM bytes GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(b * c) AS DOUBLE) / 16 AS mean_byte,
        |  MIN(b) AS b_min, MAX(b) AS b_max,
        |  COUNT(*) AS n_distinct,
        |  CAST(SUM(c * c) AS BIGINT) AS collision_mass
        |FROM pv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q25_sessionize" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
        |seq AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM tagged)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MAX(ts_us) - MIN(ts_us) AS duration_us,
        |  MIN(event_id) AS first_event_id
        |FROM seq GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q31_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
        |        THEN 1 END) AS n_large
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q61_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    substr(event_type, 1, 1) AS l
        |  FROM events),
        |j AS (
        |  SELECT user_id,
        |    string_agg(l, '' ORDER BY ts_us, event_id) AS journey
        |  FROM ev GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(CASE WHEN regexp_matches(journey, 'v') THEN 1 END) AS reached_view,
        |  COUNT(CASE WHEN regexp_matches(journey, 'v.*c') THEN 1 END) AS reached_click,
        |  COUNT(CASE WHEN regexp_matches(journey, 'v.*c.*p') THEN 1 END) AS reached_purchase
        |FROM j""".stripMargin,
    "q26_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin
  )
}
