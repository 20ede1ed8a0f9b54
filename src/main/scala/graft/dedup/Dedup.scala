package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * similarity-based, each expressed as a shuffle-conscious Spark plan:
  *
  *  - exact: one hash-aggregate on the content fingerprint (single
  *    shuffle on the fingerprint — at 100 TB this is the map-side-combine
  *    friendly formulation; never `dropDuplicates` on the raw text, the
  *    16-byte md5 shuffles instead of the document body).
  *  - n-gram Jaccard: the exact set-similarity join (inverted-index
  *    shingle join). Correct but O(pairs-sharing-a-shingle); at scale use
  *    it only to VERIFY candidates produced by MinHash-LSH.
  *  - MinHash-LSH: one `(doc, shs)` shingle-set row per document,
  *    row-local band keys from k affine portable hashes (the native
  *    `lsh_bands` kernel), only same-bucket pairs as candidates, and a
  *    row-local exact-Jaccard verify. This is the 100 TB path: cost is
  *    linear in corpus + candidate pairs, and every stage is a row-local pass or
  *    a plain join that AQE can skew-split. The one implementation:
  *    [[IncrementalLsh]] calls the same functions per batch.
  *  - SimHash: 16-bit fingerprints from token-hash bit votes; hamming
  *    buckets give near-dup candidates for short text.
  */
object Dedup {

  /** One row per distinct normalized text: surviving (minimum) id and the
    * number of copies folded into it.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles, one output row per distinct (id, shingle),
    * via the native [[graft.functions.ShingleStrings]] expression — one
    * row-local pass builds AND dedupes the grams (doc-local dedup ==
    * the relational distinct since the id is part of the key), so the
    * pipeline has no shuffle at all until the caller aggregates.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.TextHash.shingleStringsCol(col(textCol), n))
        .as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs at or above `threshold`.
    * Inverted-index join: pairs materialize only for docs sharing a
    * shingle. Join keys are 60-bit shingle hashes, not shingle strings —
    * smaller shuffle.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = hashedShingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc").as("a"), col("sh"))
    val b = sh.select(col("doc").as("b"), col("sh"))
    val common = a.join(b, Seq("sh")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Distinct hashed shingles via the native [[graft.functions.TextHash]]
    * expression: one row-local pass builds, hashes AND dedupes the n-grams
    * (doc-local dedup == `SELECT DISTINCT doc_id, shingle` since the doc id
    * is part of the key), so the explode emits 8-byte longs and the
    * distinct shuffle of the composed formulation disappears entirely.
    * The string shingle never exists as a row. The exploded `(doc, sh)`
    * shape is for exact-gram joins ([[jaccardPairs]], q84); MinHash-LSH
    * reads the unexploded [[shingleSets]].
    */
  def hashedShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc"),
      explode(graft.functions.TextHash.shingleHash60(col(textCol), n)).as("sh"))

  /** Per-document shingle SETS — the one shingle relation of the
    * MinHash-LSH path: one `(doc, shs)` row per document with at least
    * one shingle, `shs` its distinct 60-bit shingle hashes
    * ([[hashedShingles]] before the explode). Signatures and Jaccard are
    * row-local over `shs`, so nothing downstream groups by document.
    *
    * A document has a shingle exactly when it has at least `n` tokens,
    * so the filter reads the token count before the projection: a
    * `size(shs) > 0` filter is pushed below the projection with
    * `shingle_hash60` inlined, hashing every document twice.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.filter(TextAnalysis.tokenCount(col(textCol)) >= n)
      .select(col(idCol).as("doc"),
        graft.functions.TextHash.shingleHash60(col(textCol), n).as("shs"))

  /** A shingle-set relation with its LSH band keys: `(doc, shs, bands)`,
    * `bands` one `(band, bucket)` struct per band — the bucket an md5 of
    * the band's slice of the `bands * rowsPerBand` row-local MinHash
    * values ([[graft.functions.TextHash.lshBands]], one native loop per
    * row, no group-by). [[IncrementalLsh]] stores exactly these rows.
    */
  private[dedup] def banded(sets: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sets.select(col("doc"), col("shs"), graft.functions.TextHash
      .lshBands(col("shs"), bands, rowsPerBand).as("bands"))

  /** One `(doc, band, bucket)` row per band key of a [[banded]]
    * relation, exploded row-locally; `doc` is `member` — the id, or a
    * struct carrying the whole member so a candidate can be verified
    * where it forms.
    */
  private[dedup] def bandKeys(rows: DataFrame, member: Column): DataFrame =
    rows.select(member.as("doc"), explode(col("bands")).as("bb"))
      .select(col("doc"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** LSH band buckets of a shingle-set relation: one (doc, band,
    * bucket) row per band ([[banded]], then [[bandKeys]] on the id).
    */
  private def buckets(sets: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    bandKeys(banded(sets, bands, rowsPerBand), col("doc"))

  /** Candidate pairs touching `probe`: its `(doc, keys…)` band-key
    * collisions with itself, kept as `x < y`, and with `stored`'s,
    * normalized to (a < b) and deduped across bands; pairs within
    * `stored` never form. The one-shot path passes no stored rows
    * (`probe.limit(0)`: the optimizer drops the empty union branch);
    * [[IncrementalLsh]] and [[graft.multimodal.HammingIndex]] pass
    * their stored band keys, each `doc` a struct carrying the whole
    * member, so `a` and `b` come out as members to verify in place.
    * `hint` wraps the join's probe side only (their
    * [[graft.catalog.IndexStore.buildSide]] broadcast guard): the
    * probe's copy inside the union is on no join, where a hint is noise.
    */
  private[graft] def selfCandidates(probe: DataFrame, stored: DataFrame,
      keys: Seq[String] = Seq("band", "bucket"),
      hint: DataFrame => DataFrame = identity): DataFrame = {
    def side(df: DataFrame, id: String) =
      df.select(col("doc").as(id) +: keys.map(col): _*)
    side(stored, "y").withColumn("old", lit(true))
      .unionByName(side(probe, "y").withColumn("old", lit(false)))
      .join(hint(side(probe, "x")), keys)
      .filter(col("x") < col("y") || (col("old") && col("x") =!= col("y")))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
  }

  /** Candidate pairs ACROSS two corpora: (a from `bktA`, b from `bktB`)
    * per shared band bucket, deduped across bands — never a-vs-a or
    * b-vs-b and no id ordering, so the two id spaces may overlap.
    */
  private def crossCandidates(bktA: DataFrame, bktB: DataFrame): DataFrame =
    bktA.select(col("doc").as("a"), col("band"), col("bucket"))
      .join(bktB.select(col("doc").as("b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("a"), col("b")).distinct()

  /** `pairs` with member `side`'s (`"a"` or `"b"`) shingle array
    * attached as `s<side>`: one keyed join of the sets against the pair
    * ids.
    */
  private[dedup] def withSet(pairs: DataFrame, sets: DataFrame,
      side: String): DataFrame =
    sets.select(col("doc").as(side), col("shs").as(s"s$side"))
      .join(pairs, Seq(side))

  /** Exact-Jaccard verification of pairs carrying both members' sets
    * (`sa`, `sb`): row-local `array_intersect` sizes — the common
    * count over the size of the union, as a double — and pairs below
    * `threshold` drop. Output `(a, b, jaccard)`.
    */
  private[dedup] def verified(pairs: DataFrame,
      threshold: Double): DataFrame = {
    val common = size(array_intersect(col("sa"), col("sb"))).cast("long")
    pairs
      .select(col("a"), col("b"),
        (common.cast("double") / (size(col("sa")).cast("long") +
          size(col("sb")).cast("long") - common)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate near-dup pairs via LSH banding of MinHash signatures:
    * docs agreeing on ALL rows of any band land in one bucket.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2, n: Int = 3): DataFrame = {
    val bkt = buckets(shingleSets(docs, idCol, textCol, n), bands,
      rowsPerBand)
    selfCandidates(bkt, bkt.limit(0))
  }

  /** MinHash-LSH near-duplicate detection: LSH candidates, then exact
    * Jaccard verification on the candidate pairs only. The end-to-end
    * scale path: no all-pairs stage anywhere.
    *
    * The shingle-set relation feeds the signature and both verify
    * subtrees, so it is persisted (MEMORY_AND_DISK, lazily — building
    * the frame starts no job). The cache is NOT unpersisted: the
    * returned DataFrame is lazy and needs it on every evaluation, so a
    * long-lived session calling this repeatedly should use
    * [[minhashNearDuplicatesFrom]] and own the persistence; Spark's LRU
    * reclaims it under memory pressure.
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, bands: Int = 6, rowsPerBand: Int = 2,
      n: Int = 3): DataFrame =
    minhashNearDuplicatesFrom(shingleSets(docs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold, bands, rowsPerBand)

  /** [[minhashNearDuplicates]] over a PRECOMPUTED shingle-set relation
    * (`(doc, shs)` — [[shingleSets]]' shape): the factored entry for
    * callers that already hold the sets. The pipeline's stage chain
    * computes the corpus sets ONCE and feeds them to near-dup detection
    * AND eval-decontamination — re-shingling the corpus per consumer
    * was the round-18 release-diff bench tail. The caller owns
    * persistence of `sets` (it feeds the signature and both verify
    * subtrees).
    *
    * Candidates carry ids only and fetch their members' sets with two
    * keyed joins ([[withSet]]). [[IncrementalLsh]] instead carries each
    * set inside its band keys and verifies in the band join; that pays
    * off there because the stored side is scanned, not shuffled. Here
    * both sides of the self-join shuffle at scale, and band keys
    * carrying sets would multiply the shuffle bytes by `bands`.
    */
  def minhashNearDuplicatesFrom(sets: DataFrame, threshold: Double = 0.5,
      bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    val bkt = buckets(sets, bands, rowsPerBand)
    verified(withSet(withSet(selfCandidates(bkt, bkt.limit(0)), sets, "a"),
      sets, "b"), threshold)
  }

  /** CROSS-corpus near-dup matching — the train-vs-eval contamination
    * check at LSH scale: one (a = `a`-corpus id, b = `b`-corpus id,
    * jaccard) row per near-dup pair ACROSS the two corpora. Same
    * machinery as [[minhashNearDuplicates]] (shingle sets → sign →
    * band → bucket join → exact-Jaccard verify on candidates only), but
    * the bucket join pairs `a`'s buckets against `b`'s — never a-vs-a
    * or b-vs-b, no id-ordering filter, so the two id spaces may overlap
    * freely. [[TextAnalysis.decontaminate]] is the EXACT n-gram-overlap
    * form of this check; this catches near-duplicate contamination
    * (light paraphrase, appended boilerplate) that exact-gram overlap
    * scores dilute.
    *
    * At 100 TB: cost is linear in both corpora plus cross collisions;
    * the eval side is typically tiny — its set and bucket relations
    * broadcast, so the train corpus is never shuffled by the candidate
    * stage at all. Both set relations are persisted with the same
    * lifecycle caveat as [[minhashNearDuplicates]].
    */
  def crossCorpusMatches(a: DataFrame, aId: String, aText: String,
      b: DataFrame, bId: String, bText: String, threshold: Double = 0.5,
      bands: Int = 6, rowsPerBand: Int = 2, n: Int = 3): DataFrame =
    crossCorpusMatchesFrom(
      shingleSets(a, aId, aText, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      shingleSets(b, bId, bText, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold, bands, rowsPerBand)

  /** [[crossCorpusMatches]] over two PRECOMPUTED shingle-set relations
    * (`(doc, shs)` — [[shingleSets]]' shape), the factored entry
    * mirroring [[minhashNearDuplicatesFrom]]:
    * [[graft.pipeline.CorpusPipeline]]'s release path reuses its
    * stage-chain corpus sets for the train side and lets a caller
    * diffing MULTIPLE releases against one eval set materialize the
    * eval side once. Persistence is the caller's.
    */
  def crossCorpusMatchesFrom(setsA: DataFrame, setsB: DataFrame,
      threshold: Double = 0.5, bands: Int = 6,
      rowsPerBand: Int = 2): DataFrame = {
    val cand = crossCandidates(buckets(setsA, bands, rowsPerBand),
      buckets(setsB, bands, rowsPerBand))
    verified(withSet(withSet(cand, setsA, "a"), setsB, "b"), threshold)
  }

  /** Remove from `train` every document with a near-dup match in
    * `eval` ([[crossCorpusMatches]] at `threshold`): one anti-join on
    * the matched train ids (a distinct id set — broadcastable whenever
    * the contaminated fraction is small, which it is by construction
    * when eval is an eval set).
    */
  def decontaminateNearDup(train: DataFrame, trainId: String,
      trainText: String, eval: DataFrame, evalId: String, evalText: String,
      threshold: Double = 0.5): DataFrame = {
    val hit = crossCorpusMatches(train, trainId, trainText,
      eval, evalId, evalText, threshold)
      .select(col("a").as(trainId)).distinct()
    train.join(hit, Seq(trainId), "left_anti")
  }

  /** Span-level EXACT duplicate detection — the "duplicated substring"
    * analysis (suffix-array-style dedup, Spark-shaped): a k-token gram
    * occurring more than once in the corpus (within OR across
    * documents) marks a duplicated span start; consecutive duplicated
    * starts merge into maximal spans. Catches verbatim boilerplate and
    * quoted passages that document-level near-dup (Jaccard/MinHash)
    * dilutes away.
    *
    * Shape: one doc-partitioned window pass builds positional k-gram
    * hashes (k-1 `lead`s + md5 — positions matter here, unlike
    * [[hashedShingles]] which dedupes row-locally); one keyed groupBy
    * finds repeated grams; span merging is the sessionization pattern
    * (gap-break flag + running sum) inside the same doc partitioning.
    * Everything is counts + md5 + one double division — replays
    * bit-identically in the DuckDB oracle (q100).
    *
    * @param maxDf document-frequency cap on duplicated grams (0 = no
    *   cap): grams occurring more than `maxDf` times in the corpus are
    *   EXCLUDED from span detection, the standard suffix-array-dedup
    *   guard — at 100 TB a boilerplate 8-gram occurring in millions of
    *   documents would otherwise make its `starts` join key hot (AQE
    *   skew-split mitigates but can't bound the output, which grows
    *   with df per gram); the cap bounds every gram's fanout, and
    *   ultra-common grams are stop-phrases, not the verbatim copies
    *   this analysis hunts.
    * @return per document with >= k tokens: (idCol, n_grams, n_dup,
    *   dup_frac, n_spans, max_span) — duplicated-start count/fraction
    *   and merged-span stats (span length in TOKENS: a run of starts
    *   s..e covers e-s+k tokens)
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxDf: Long = 0L): DataFrame = {
    val (grams, spans) = spanRelations(docs, idCol, textCol, k, maxDf)
    val total = grams.groupBy(col("doc")).agg(count(lit(1)).as("n_grams"))
    val perDoc = spans.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"), sum(col("n_starts")).as("n_dup"),
        max(col("len")).as("max_span"))
    total.join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("dup_frac"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
  }

  /** Shared span machinery: positional-gram relation and merged
    * maximal spans with extents ((doc, pos, gram) and (doc, span,
    * n_starts, len, from_tok, to_tok) — a run of starts s..e covers
    * tokens [s, e + k)).
    */
  private def spanRelations(docs: DataFrame, idCol: String,
      textCol: String, k: Int, maxDf: Long): (DataFrame, DataFrame) = {
    val grams = positionalGrams(docs, idCol, textCol, k)
    val dupGrams = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .filter(if (maxDf > 0) col("n") <= maxDf else lit(true))
      .select("gram")
    val starts = grams.join(dupGrams, "gram").select(col("doc"), col("pos"))
    (grams, mergeStarts(starts, k))
  }

  /** Positional k-gram relation `(doc, pos, gram)` — the shared front
    * of every span analysis (positions matter here, unlike
    * [[hashedShingles]] which dedupes row-locally).
    */
  private def positionalGrams(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val toks = docs.select(col(idCol).as("doc"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val parts = col("tok") +: (1 until k).map(i => lead(col("tok"), i).over(w))
    toks
      .withColumn("lastTok", lead(col("tok"), k - 1).over(w))
      .withColumn("gram", md5(concat_ws(" ", parts: _*)))
      .filter(col("lastTok").isNotNull)
      .select(col("doc"), col("pos"), col("gram"))
  }

  /** Merge marked start positions into maximal spans (the gap-break
    * sessionization pattern): `(doc, span, n_starts, len, from_tok,
    * to_tok)` — a run of starts s..e covers tokens [s, e + k).
    */
  private def mergeStarts(starts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    starts
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) === 1, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("span", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc"), col("span"))
      .agg(count(lit(1)).as("n_starts"),
        (max(col("pos")) - min(col("pos")) + lit(k)).cast("long").as("len"),
        min(col("pos")).cast("long").as("from_tok"),
        (max(col("pos")) + lit(k)).cast("long").as("to_tok"))
  }

  /** Maximal duplicated-span extents: one row per merged span,
    * (idCol, from_tok, to_tok) — tokens [from_tok, to_tok) are covered
    * by duplicated k-grams. The action-side companion to
    * [[duplicateSpans]]' statistics.
    */
  def duplicateSpanRanges(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxDf: Long = 0L): DataFrame =
    spanRelations(docs, idCol, textCol, k, maxDf)._2
      .select(col("doc").as(idCol), col("from_tok"), col("to_tok"))

  /** Span-level dedup as an ACTION: rewrite each document with the
    * tokens of every duplicated span removed (the remaining tokens
    * re-joined in order with single spaces). Documents without spans —
    * including those shorter than `k` tokens — pass through with
    * whitespace-normalized text.
    *
    * Shape: token positions semi-join the span ranges (keyed on the
    * doc id; ranges per doc are few) to find covered positions, the
    * survivors anti-join back, and the rebuild is one per-doc sorted
    * collect. The only higher-order call (`transform` over the sorted
    * struct array) runs once per document — never per token pair.
    *
    * @return (idCol, textCol): the scrubbed corpus
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxDf: Long = 0L): DataFrame =
    scrubByRanges(docs, idCol, textCol,
      duplicateSpanRanges(docs, idCol, textCol, k, maxDf))

  /** PARAGRAPH-frequency scrub (RefinedWeb-style line dedup): drop
    * every newline-delimited paragraph whose corpus-wide DOCUMENT
    * frequency exceeds `maxDf` — newsletter prompts, cookie banners,
    * per-site disclaimers — and rebuild each document from its
    * surviving paragraphs in order. The granularity between whole-doc
    * dedup (q18) and token-span scrub ([[scrubDuplicateSpans]]):
    * boilerplate repeats as whole lines across MANY documents, and the
    * line is the unit that must go.
    *
    * Shape: one posexplode, df counted on 60-bit paragraph hashes
    * (8-byte shuffle keys, never strings; doc-distinct so in-doc
    * repetition cannot promote a paragraph to "frequent"), survivors
    * tagged by one hash-keyed join, and the per-doc sorted-collect
    * rebuild. Hot paragraphs are at most `total/maxDf` distinct
    * values — no skew funnel.
    *
    * @return one row per input doc: (idCol, clean_text, n_paras,
    *   n_dropped) — clean_text empty (never NULL) when everything was
    *   boilerplate
    */
  def scrubFrequentParagraphs(docs: DataFrame, idCol: String,
      textCol: String, maxDf: Long): DataFrame = {
    val paras = paragraphs(docs, idCol, textCol)
    scrubParagraphsWith(docs, idCol, paras, paragraphDf(paras, idCol),
      maxDf)
  }

  /** Non-blank newline paragraphs of a corpus:
    * `(idCol, pos, para, ph)` with `ph` the 60-bit line hash.
    */
  private[graft] def paragraphs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "para")))
      .filter(length(trim(col("para"))) > 0)
      .withColumn("ph",
        graft.functions.PortableHash.hash60Base(col("para")))

  /** Doc-distinct line document frequencies `(ph, pdf)` — partials over
    * doc-disjoint batches ADD (the sketch-merge contract the streaming
    * door relies on).
    */
  private[graft] def paragraphDf(paras: DataFrame, idCol: String)
      : DataFrame =
    paras.select(col(idCol), col("ph")).distinct()
      .groupBy(col("ph")).agg(count(lit(1)).as("pdf"))

  /** The scrub/rebuild tail of [[scrubFrequentParagraphs]] over
    * precomputed paragraph and df relations.
    */
  private[graft] def scrubParagraphsWith(docs: DataFrame, idCol: String,
      paras: DataFrame, pdf: DataFrame, maxDf: Long): DataFrame = {
    val id = col(idCol)
    val perDoc = paras.join(pdf, Seq("ph"))
      .groupBy(id).agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("pdf") > maxDf, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(sort_array(collect_list(
            when(col("pdf") <= maxDf, struct(col("pos"), col("para"))))),
          s => s.getField("para")), "\n").as("clean_text"))
    docs.select(id).join(perDoc, Seq(idCol), "left")
      .select(id, coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** HOST-scoped boilerplate line removal — the per-SITE form of
    * [[scrubFrequentParagraphs]] (CCNet/RefinedWeb's "drop lines
    * duplicated across a domain's pages"): a line is boilerplate for a
    * host iff its doc-distinct frequency WITHIN that host reaches a
    * FRACTION of the host's documents (`pdf·10^6 ≥ minPpm·hostDocs`,
    * with an absolute floor `pdf ≥ minDf` so two-page hosts don't
    * self-scrub). Global-df scrubbing misses this both ways: a nav
    * footer on 60% of one site's pages can sit under any global
    * absolute cap, while a phrase mildly common corpus-wide would be
    * collateral damage — the threshold must be host-relative, and a
    * line is only ever removed from the host it is boilerplate FOR.
    *
    * Scale shape: line hashing is per-doc; the df is one
    * `(host, ph)`-keyed aggregation (doc-distinct partials add, the
    * streaming contract); host sizes are a host-keyed count joined
    * back broadcast-small; the rebuild is [[scrubParagraphsWith]]'s
    * one-per-doc sorted collect. Returns
    * `(idCol, hostCol, clean_text, n_paras, n_dropped)`.
    */
  def scrubHostBoilerplate(docs: DataFrame, idCol: String,
      hostCol: String, textCol: String, minPpm: Long,
      minDf: Long = 2L): DataFrame = {
    val hosts = docs.select(col(idCol), col(hostCol))
    val paras = paragraphs(docs, idCol, textCol).join(hosts, Seq(idCol))
    scrubHostBoilerplateWith(docs, idCol, hostCol, textCol,
      hostParagraphDf(paras, idCol, hostCol),
      hostDocCounts(docs, hostCol), minPpm, minDf)
  }

  /** Doc-distinct per-host line frequencies `(hostCol, ph, pdf)` —
    * partials over doc-disjoint batches ADD (the same merge contract
    * as [[paragraphDf]], keyed per host; the streaming door's fold).
    */
  private[graft] def hostParagraphDf(paras: DataFrame, idCol: String,
      hostCol: String): DataFrame =
    paras.select(col(idCol), col(hostCol), col("ph")).distinct()
      .groupBy(col(hostCol), col("ph")).agg(count(lit(1)).as("pdf"))

  /** Host document counts `(hostCol, __hn)` — partials ADD. */
  private[graft] def hostDocCounts(docs: DataFrame, hostCol: String)
      : DataFrame =
    docs.groupBy(col(hostCol)).agg(count(lit(1)).as("__hn"))

  /** The threshold/scrub/rebuild tail of [[scrubHostBoilerplate]] over
    * precomputed `(host, ph, pdf)` and `(host, __hn)` relations.
    */
  private[graft] def scrubHostBoilerplateWith(docs: DataFrame,
      idCol: String, hostCol: String, textCol: String, pdf: DataFrame,
      hostDocs: DataFrame, minPpm: Long, minDf: Long): DataFrame = {
    val id = col(idCol)
    val hosts = docs.select(id, col(hostCol))
    val paras = paragraphs(docs, idCol, textCol).join(hosts, Seq(idCol))
    val boiler = pdf.join(hostDocs, Seq(hostCol))
      .filter(col("pdf") >= minDf &&
        col("pdf") * lit(1000000L) >= lit(minPpm) * col("__hn"))
      .select(col(hostCol), col("ph"), lit(true).as("__boiler"))
    val perDoc = paras
      .join(boiler, Seq(hostCol, "ph"), "left")
      .groupBy(id).agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(sort_array(collect_list(
            when(col("__boiler").isNull,
              struct(col("pos"), col("para"))))),
          s => s.getField("para")), "\n").as("clean_text"))
    hosts.join(perDoc, Seq(idCol), "left")
      .select(id, col(hostCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** CROSS-corpus SPAN scrub — decontamination at PASSAGE granularity:
    * rewrite each train document with every token covered by a k-gram
    * that ALSO occurs in the eval corpus removed. Dropping whole
    * matched documents (q120's `decontaminateNearDup`) is the
    * similarity posture; benchmarks leak as PASSAGES quoted inside
    * otherwise-fine documents, and the passage is what must go — this
    * is the [[scrubDuplicateSpans]] action keyed on the CROSS gram
    * set instead of the within-corpus repeat set.
    *
    * Shape: positional k-grams on both sides; the contaminated set is
    * the eval side's DISTINCT gram values (optionally capped by
    * combined document frequency — boilerplate is boilerplate
    * whichever corpus it lives in, the [[graft.text.Winnow
    * .crossMatches]] rule); train starts semi-join it, merge into
    * maximal spans, and the rebuild is the one-per-doc sorted collect.
    * Nothing all-pairs anywhere: the only cross-corpus contact is the
    * gram-keyed semi join.
    *
    * @return (idCol, textCol): the scrubbed train corpus
    */
  def scrubCrossSpans(train: DataFrame, idCol: String, textCol: String,
      evalDocs: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 8, maxDf: Long = 0L): DataFrame = {
    val tg = positionalGrams(train, idCol, textCol, k)
    val eg = positionalGrams(evalDocs, evalIdCol, evalTextCol, k)
    val starts = tg.join(contaminatedGrams(eg, tg, maxDf),
        Seq("gram"), "left_semi")
      .select(col("doc"), col("pos"))
    scrubByRanges(train, idCol, textCol,
      mergeStarts(starts, k)
        .select(col("doc").as(idCol), col("from_tok"), col("to_tok")))
  }

  /** The cross-corpus contaminated-gram set: `fromGrams`' DISTINCT gram
    * values, optionally capped by COMBINED document frequency over both
    * sides (boilerplate is boilerplate whichever corpus it lives in).
    */
  private def contaminatedGrams(fromGrams: DataFrame,
      otherGrams: DataFrame, maxDf: Long): DataFrame = {
    val base = fromGrams.select(col("gram")).distinct()
    if (maxDf > 0) {
      val ok = fromGrams.select(col("gram"))
        .unionAll(otherGrams.select(col("gram")))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .filter(col("n") <= maxDf).select("gram")
      base.join(ok, Seq("gram"), "left_semi")
    } else base
  }

  /** EVAL-side contamination coverage — the benchmark-integrity
    * REPORT dual of [[scrubCrossSpans]]: for each eval document, what
    * fraction of its tokens is covered by a k-gram that also occurs in
    * the training corpus (the overlap statistic a model card reports
    * per benchmark before trusting its numbers — [[scrubCrossSpans]]
    * repairs the train side; this MEASURES the eval side, which must
    * never be edited). Exact integer ppm, so the number replays
    * bit-identically in the oracle.
    *
    * Shape: positional k-grams both sides; the contaminated set is the
    * TRAIN side's distinct grams under the combined-df cap; eval
    * starts semi-join it (gram-keyed — never all-pairs), merge into
    * maximal spans, and coverage counts DISTINCT covered positions
    * (runs of near-adjacent starts overlap in covered tokens, so span
    * lengths must not simply add). Every eval doc gets a row — zero
    * coverage is the healthy answer, and its absence would read as a
    * missing benchmark, not a clean one.
    *
    * @return one row per eval doc: (evalIdCol, n_tok, covered_tok,
    *   coverage_ppm) with coverage_ppm = covered·10⁶ div n_tok
    */
  def crossContaminationReport(train: DataFrame, idCol: String,
      textCol: String, evalDocs: DataFrame, evalIdCol: String,
      evalTextCol: String, k: Int = 8, maxDf: Long = 0L): DataFrame = {
    val tg = positionalGrams(train, idCol, textCol, k)
    val eg = positionalGrams(evalDocs, evalIdCol, evalTextCol, k)
    val starts = eg.join(contaminatedGrams(tg, eg, maxDf),
        Seq("gram"), "left_semi")
      .select(col("doc"), col("pos"))
    val ranges = mergeStarts(starts, k)
    val toks = evalDocs.select(col(evalIdCol).as("doc"),
      posexplode(TextAnalysis.tokens(col(evalTextCol))).as(Seq("pos", "tok")))
    val covered = toks.join(ranges,
      toks("doc") === ranges("doc") &&
        col("pos") >= col("from_tok") && col("pos") < col("to_tok"),
      "left_semi")
    val nt = toks.groupBy(col("doc")).agg(count(lit(1)).as("n_tok"))
    val cv = covered.groupBy(col("doc"))
      .agg(count(lit(1)).as("covered_tok"))
    evalDocs.select(col(evalIdCol))
      .join(nt.withColumnRenamed("doc", evalIdCol), Seq(evalIdCol), "left")
      .join(cv.withColumnRenamed("doc", evalIdCol), Seq(evalIdCol), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
      .withColumn("covered_tok", coalesce(col("covered_tok"), lit(0L)))
      .withColumn("coverage_ppm",
        when(col("n_tok") > 0,
          expr("covered_tok * 1000000 div n_tok")).otherwise(lit(0L)))
  }

  /** Rewrite each doc with tokens in `ranges` ((idCol, from_tok,
    * to_tok) — [from, to) token spans) removed; docs without ranges
    * pass through whitespace-normalized. Token positions semi-join the
    * ranges (keyed on the doc id; ranges per doc are few), survivors
    * anti-join back, rebuild is one per-doc sorted collect — the only
    * higher-order call runs once per document, never per token pair.
    */
  private def scrubByRanges(docs: DataFrame, idCol: String,
      textCol: String, rangesIn: DataFrame): DataFrame = {
    val ranges = rangesIn.withColumnRenamed(idCol, "doc")
    val toks = docs.select(col(idCol).as("doc"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val covered = toks.join(ranges,
      toks("doc") === ranges("doc") &&
        col("pos") >= col("from_tok") && col("pos") < col("to_tok"),
      "left_semi")
    val kept = toks.join(covered.select(col("doc"), col("pos")),
      Seq("doc", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("__scrubbed"))
    docs.select(col(idCol), col(textCol))
      .join(rebuilt.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__scrubbed"), lit("")).as(textCol))
  }

  /** Survivor selection over near-duplicate clusters by SCORE: resolve
    * `pairs` to connected components (cluster labels stay the minimum
    * reachable id — stable regardless of scoring), then keep the
    * HIGHEST-scoring member per cluster, ties to the lowest id — the
    * quality-aware "keep best" policy a curation pipeline wants
    * instead of keep-min-id. Docs not in any pair survive trivially.
    *
    * Scale: CC is the bounded-rounds label propagation below; the
    * survivor pick is a per-cluster max-struct AGGREGATION
    * (`max(struct(score, -id))` — map-side combinable), not a window:
    * a window partitioned by cluster funnels each cluster through one
    * task, and a planted boilerplate MEGA-CLIQUE (one cluster ≫
    * partition size — the adversarial shape in SKEWPROBE_r11.json) would
    * sort corpus-scale rows on a single core. The aggregation's
    * partial combine keeps the hot cluster's traffic at
    * one-row-per-map-partition; semantics are identical to
    * `row_number() over (partition by cluster order by score desc,
    * id asc) = 1` including the tie-break (max of -id == min id).
    *
    * @return one row per doc: (idCol, scoreCol, cluster, kept)
    */
  def survivorsByScore(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val id = col(idCol)
    val cc = connectedComponents(pairs).withColumnRenamed("doc_id", idCol)
    val labeled = docs.select(id, col(scoreCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), id))
    val best = labeled.groupBy(col("cluster"))
      .agg(max(struct(col(scoreCol).as("__s"),
        (lit(0L) - id).as("__negid"))).as("__b"))
      .select(col("cluster"), (lit(0L) - col("__b.__negid")).as("__best"))
    labeled.join(best, Seq("cluster"))
      .withColumn("kept", id === col("__best"))
      .select(id, col(scoreCol), col("cluster"), col("kept"))
  }

  /** Connected components over near-duplicate pairs: resolves pairwise
    * matches into clusters so exactly one representative (the minimum id)
    * survives per duplicate GROUP — chains like a~b, b~c collapse to one
    * cluster even though (a,c) was never tested.
    *
    * Iterative min-label propagation: every node starts as its own label;
    * each round joins labels across (undirected) edges and keeps the
    * per-node minimum; stops when a round changes nothing. Rounds are
    * bounded by the cluster diameter — near-dup clusters are shallow, so
    * this converges in 2-4 rounds; each round is one shuffle join + one
    * min-aggregate, both keyed on the node id (AQE-skew-splittable). The
    * per-round driver action reads ONE count, never data.
    *
    * @param pairs (a, b) edges, any orientation
    * @return (doc_id, cluster) — every node appearing in `pairs`, with
    *   the minimum reachable id as its cluster representative
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxRounds: Int = 20,
      onConverged: Int => Unit = _ => ()): DataFrame = {
    val a = col(aCol); val b = col(bCol)
    // localCheckpoint (eager), not persist: iterative algorithms grow the
    // logical plan every round — each `next` embeds the previous round's
    // joins — and downstream consumers that compose MORE plan on top
    // (e.g. a second pipeline pass) push Catalyst analysis into
    // exponential self-join deduplication. Checkpointing truncates the
    // lineage to the materialized blocks each round, the same reason
    // GraphX/ALS checkpoint their iterations.
    // Materialize the caller's pair plan ONCE before mirroring: the
    // undirected union would otherwise evaluate the (potentially
    // expensive — LSH candidate+verify) upstream subtree twice in the
    // same job.
    val p0 = pairs.select(a.as("src"), b.as("dst")).localCheckpoint()
    val edges = p0
      .unionByName(p0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    // Right-size the per-round shuffles: the label relation is bounded by
    // the edge count, so a handful of near-dup pairs must not pay
    // 32-task scheduling per round. ~500k edges/partition; small edge
    // sets broadcast so the propagation join plans with no shuffle.
    val nEdges = edges.count()
    val parts = math.max(1, math.min(200, (nEdges / 500000L).toInt + 1))
    val idType = edges.schema("src").dataType
    var labels = edges.select(col("src").as("node"))
      .distinct()
      .withColumn("lab", col("node"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // ONE join per round over a unified "adopt-from" arc relation:
      // graph edges (neighbor propagation) plus per-round pointer-jump
      // arcs lab(n) -> n — joining labels on arc.src delivers lab(lab(n))
      // to n through the same shuffle that delivers neighbor labels.
      // Pointer jumping halves chain depth each round -> O(log diameter)
      // rounds instead of O(diameter). (Label-arc count is bounded by the
      // node count, so the union stays broadcastable when edges are.)
      val arcsRaw = edges.unionByName(
        labels.select(col("lab").as("src"), col("node").as("dst")))
      val arcs = if (nEdges < 1000000L) broadcast(arcsRaw) else arcsRaw
      val msgs = labels
        .join(arcs, labels("node") === arcs("src"))
        .select(col("dst").as("node"), col("lab"),
          lit(null).cast(idType).as("old"))
      // the labels arm carries its own lab as `old`, so the aggregated
      // row already knows whether this round changed it — convergence is
      // a filter over the checkpointed blocks, not another join
      val next = labels
        .select(col("node"), col("lab"), col("lab").as("old"))
        .unionByName(msgs)
        .repartition(parts, col("node"))
        .groupBy(col("node"))
        .agg(min(col("lab")).as("lab"), max(col("old")).as("old"))
        .localCheckpoint()
      val changed = next.filter(col("lab") =!= col("old")).count()
      labels = next.select(col("node"), col("lab"))
      converged = changed == 0
      round += 1
    }
    // with pointer jumping, rounds are ~log2(diameter) + 1; a graph that
    // still fails the bound indicates something structurally wrong —
    // fail loudly rather than return silently-wrong clusters
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds")
    onConverged(round) // probe hook: rounds-to-convergence on record
    labels.select(col("node").as("doc_id"), col("lab").as("cluster"))
  }

  /** 16-bit SimHash per document: every token occurrence votes +1/-1 on
    * each bit of its 60-bit portable hash (folded to 16 bits); fingerprint
    * bit j is the vote sign. All integer arithmetic — exact in any engine.
    *
    * Computed by the native [[graft.functions.SimHash16]] expression: one
    * shuffle-free scan, where the composed formulation exploded
    * tokens x 16 bit rows through two shuffled aggregations. Docs with no
    * tokens produce NULL and are dropped, matching the relational shape
    * (no vote rows -> absent from the output).
    */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.TextHash.simhash16(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-duplicate pairs at hamming distance <= 1: every
    * left-side fingerprint expands to itself plus its 16 single-bit
    * flips (17 join keys), candidates come from an EXACT equality join
    * on the 16-bit value — no similarity scan anywhere — and the verify
    * is one `bit_count(xor)`. The key space (65536) is dense relative to
    * large corpora, so the join distributes near-uniformly; this is the
    * short-text sibling of MinHash-LSH (which needs ~2x the passes for
    * texts long enough to shingle). All-integer pipeline — replays
    * bit-identically in the oracle (q68).
    */
  def simhashPairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fp = simhash16(docs, idCol, textCol)
    val masks = lit(0L) +: (0 until 16).map(i => lit(1L << i))
    val l = fp.select(col(idCol).as("a"), col("simhash").as("fa"),
      explode(array(masks.map(m => col("simhash").bitwiseXOR(m)): _*))
        .as("k"))
    val r = fp.select(col(idCol).as("b"), col("simhash").as("fb"))
    l.join(r, col("k") === col("fb") && col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).as("hamming"))
  }
}
