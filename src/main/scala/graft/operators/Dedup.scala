package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the whole point — these run over ~100 TB of documents):
  *  - Exact dedup shuffles a 16-byte digest + id, never the document text.
  *  - MinHash/SimHash signatures are computed scan-side with higher-order
  *    functions (one pass, no explode of the shingle set across the wire);
  *    only fixed-width signatures shuffle.
  *  - Candidate generation is a shuffle on (band, bandHash) / (block,
  *    blockValue) keys — each document emits `bands` (resp. `blocks`) rows,
  *    a constant fan-out, and the verify step runs only inside buckets.
  *    No O(n²) stage exists anywhere.
  *  - Skewed buckets (boilerplate shingles) are the classic failure mode:
  *    buckets are capped (`maxBucket`) exactly like production near-dup
  *    pipelines drop stop-shingle buckets; AQE skew-join handles the rest.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the smallest id. Returns
    * (idCol, n_dups, digest) per distinct content. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Keep-one projection of exact dedup: the full surviving rows. */
  def exactKeep(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * numHashes = bands * rowsPerBand. Two docs collide in a band iff that
    * band's signature slice matches exactly; the (bands, rowsPerBand) choice
    * sets the Jaccard S-curve. Candidates are verified with true Jaccard
    * over the shingle sets; pairs below `threshold` are dropped.
    *
    * Returns columns: id_a, id_b, jaccard (id_a < id_b, distinct pairs).
    */
  /** Banded LSH keys: one (id, band, bh) row per document band, computed
    * in ONE scan-side pass per row (MinHashSigExpr) — no explode of the
    * shingle set, no shuffle, no k-column aggregate; band hashes fold
    * scan-side so only ids and two 8-byte keys ever move. */
  private def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
                               bands: Int, rowsPerBand: Int,
                               shingleN: Int): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = df.select(col(idCol).as("id"),
      graft.expressions.SignatureExprs.minhashSig(col(textCol), shingleN, k).as("sig"))
    sigs.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)): _*)
      }: _*)).as(Seq("band", "bh")))
  }

  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   bands: Int = 8, rowsPerBand: Int = 4,
                   shingleN: Int = 3, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame = {
    val banded = bandedSignatures(df, textCol, idCol, bands, rowsPerBand, shingleN)

    // Materialize the (small) candidate set: it feeds three downstream
    // branches (pairs + both shingle re-joins); without truncating lineage
    // the whole LSH pipeline would be re-executed per branch.
    val candidates = cut(pairsFromBuckets(banded, Seq("band", "bh"), maxBucket,
      "graft.dedup.minhash.buckets")
      .select("id_a", "id_b").distinct())

    // Shingle only the documents that appear in a candidate pair (semi
    // join BEFORE the shingle projection, so the expression runs on the
    // candidate subset, not the corpus).
    val candidateIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candShingles = df.select(col(idCol).as("id"), col(textCol).as("__txt"))
      .join(candidateIds, Seq("id"), "left_semi")
      .select(col("id"), TextAnalysis.shingles(col("__txt"), shingleN).as("sh"))

    candidates
      .join(candShingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(candShingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash over word 2-gram features: sign of the per-bit vote of
    * distinct feature hashes. 2-grams rather than unigrams: corpora with a
    * narrow shared vocabulary make unigram simhashes collide globally.
    * Computed per-row in one pass (SimHashExpr) — zero shuffle; the former
    * explode + 64-column conditional-sum aggregate was round 1's slowest
    * driver-bench query. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.expressions.SignatureExprs.simhash(col(textCol), 2).as("simhash"))

  /** SimHash near-dup pairs: 4x16-bit block LSH (any pair within Hamming
    * distance <= 3 of a 64-bit hash must agree on at least one of 4 blocks
    * — the public pigeonhole trick from Manku et al.'s simhash paper),
    * verified with exact bit_count(xor). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val sh = simhash(df, textCol, idCol)
    val blocked = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)
      }: _*)).as(Seq("block", "bv")))
    pairsFromBuckets(blocked, Seq("block", "bv"), maxBucket,
      "graft.dedup.simhash.buckets")
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Span-level duplicate-text statistics — the document-granular
    * ExactSubstr signal (Lee et al. 2022 deduplicate long repeated
    * substrings; the word-n-gram form is its standard relaxation): for
    * each document, what fraction of its `spanN`-token windows also occurs
    * in some OTHER document. Whole-doc dedup misses partially-copied
    * boilerplate (headers, licenses, templated paragraphs); this measures
    * it per document and flags heavy copies (`keep = dup_fraction <=
    * maxFraction`).
    *
    * Scale: spans are hashed to 64 bits scan-side (`ShingleExpr` + xxhash
    * in the projection — narrow, codegen'd), so the ONLY shuffle carries
    * (8-byte span hash, doc_id) pairs for the document-frequency window.
    * There is no pair join and therefore no quadratic stage and no need
    * for a stop-span cap — df counting is linear in corpus tokens.
    * Output: (doc_id, n_spans, n_dup_spans, dup_fraction, keep). */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String,
                   spanN: Int = 10, maxFraction: Double = 0.5): DataFrame = {
    // distinct=true: a span repeated INSIDE one doc counts once, so df
    // over postings == count of documents containing the span
    val postings = df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), spanN)).as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
    // agg + join, not count().over(partitionBy(g)): the window shape
    // sorts postings by span hash; a hash aggregation plus a hash join
    // on the uniform (skew-free) hash does the same df count with no
    // Sort anywhere — the spanNovelty/removeDupSpans shape.
    val dfCounts = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val wdf = postings.join(dfCounts, "g")
    wdf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      // floor(x*1e6 + 0.5)/1e6: the engine-portable 6dp round (pure IEEE
      // ops — round() ties on exact binary ratios differ across engines)
      .withColumn("dup_fraction",
        floor(col("n_dup_spans").cast("double") / col("n_spans")
          * lit(1e6) + lit(0.5d)) / lit(1e6))
      .withColumn("keep", col("dup_fraction") <= lit(maxFraction))
  }

  /** Ingestion-order novelty: per document, the fraction of its
    * `spanN`-token windows never seen in any EARLIER document (smaller
    * id = earlier ingestion) — the marginal-value curve of a crawl.
    * Where [[dupSpanStats]] is symmetric ("shared with anyone"), this is
    * ordered: a snapshot re-crawled after its source was already
    * ingested scores near zero novelty, which is exactly the signal
    * dedup-aware crawl scheduling ranks sources by.
    *
    * Scale: identical shape to [[dupSpanStats]] — windows hash scan-side
    * (per-doc distinct), the one corpus-sized shuffle carries (hash,
    * doc) pairs for a min-id aggregation, and novelty is a doc-keyed
    * reaggregation. Output: (doc_id, n_spans, n_novel, novelty). */
  def spanNovelty(df: DataFrame, textCol: String, idCol: String,
                  spanN: Int = 10): DataFrame = {
    val postings = df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), spanN)).as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
    val firstOwner = postings.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    postings.join(firstOwner, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        floor(col("n_novel").cast("double") / col("n_spans")
          * lit(1e6) + lit(0.5d)) / lit(1e6))
  }

  /** Duplicated-span REMOVAL (the ExactSubstr transform of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * where [[dupSpanStats]] measures span-level duplication, this
    * rewrites each document with every non-first occurrence of a
    * duplicated `spanN`-token window elided — one copy of each repeated
    * substring survives, at its globally first position (lexicographic
    * (doc_id, pos); within-doc repeats keep the earliest).
    *
    * Mechanics: overlapping windows are hashed scan-side; the global
    * first occurrence per window hash is one min(struct) aggregation;
    * every LATER occurrence marks its spanN token positions covered, and
    * the document reassembles from uncovered tokens in order. A token
    * inside the first occurrence of one duplicated region can still be
    * removed if ANOTHER duplicated window covers it — the definition is
    * positional cover, replayed exactly by the oracle.
    *
    * Scale: the two corpus-sized shuffles carry (hash, doc, pos) and
    * (doc, tokpos) rows — never window text (hashed in the projection,
    * the q96 collision caveat: the oracle works over gram strings, so a
    * cross-corpus xxhash64 collision would fail the harness). Coverage
    * fan-out is a constant spanN per dup window. Reassembly groups by
    * doc — per-doc state is one document's tokens, the lineDedup
    * pattern. min(struct) plans as a sort-based aggregate keyed on the
    * UNIFORM window hash: a partition-local sort with no skewed key
    * (SMJ-equivalent work) — preferred over packing (doc, pos) into one
    * long, whose id/length caps would overflow silently at scale.
    * Output: (doc_id, clean_text, n_removed). */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String,
                     spanN: Int = 10): DataFrame = {
    // tokenization feeds three consumers (window hashes, the token
    // explode, the per-doc length) — fan the narrow scan across cores
    // (guide §2.5). NOT lineage-cut: a materialized token-array frame
    // deserializes slower than the split recomputes (same finding as
    // LangModel.scoresFromTokens).
    val base = graft.Tables.fanOut(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        split(col(textCol), " ", -1).as("__toks"))
    val win = base
      .filter(size(col("__toks")) >= spanN)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__toks) - $spanN)," +
          s" i -> xxhash64(array_join(slice(__toks, i + 1, $spanN), ' ')))")))
      .withColumnRenamed("col", "h")
    val firsts = win.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val covered = win.join(firsts, "h")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanN - 1))).as("tp"))
      .distinct()
    val toks = base.select(col("doc_id"), posexplode(col("__toks")))
      .withColumnRenamed("pos", "tp").withColumnRenamed("col", "tok")
    val rebuilt = toks.join(covered, Seq("doc_id", "tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    base.select(col("doc_id"), size(col("__toks")).cast("long").as("__n"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** MAXIMAL duplicated-span extraction — the suffix-array ExactSubstr
    * REPORT of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), expressed relationally: for each
    * document, the maximal intervals of token positions covered by
    * duplicated `spanN`-token windows (total occurrence count >= 2
    * anywhere in the corpus — within-doc repeats included, the Lee et
    * al. rule).
    *
    * EXACT longest-match semantics at threshold `spanN`, not an
    * approximation: a repeated substring of length L >= spanN has all
    * of its L-spanN+1 windows repeated, and a repeated window IS a
    * repeated substring of length spanN — so "positions inside some
    * duplicated window" equals "positions inside some maximal repeated
    * substring of length >= spanN", the exact set a suffix array
    * computes at the same minimum match length. The interval merge
    * (gaps-and-islands over duplicated window starts) therefore
    * reports each maximal duplicated region with its exact boundaries:
    * a planted overlap of L >= spanN tokens comes back as one row with
    * its true (start, len); an overlap under spanN is invisible — the
    * same recall boundary a suffix array has at match length spanN
    * (spec-pinned on planted variable-length overlaps in
    * Round13OpsSpec). Two duplicated regions of the SAME doc closer
    * than spanN tokens merge into one reported interval — positional-
    * cover semantics, the union ExactSubstr's removal step takes (and
    * [[removeDupSpans]] elides).
    *
    * Scale: the [[dupSpanStats]] shuffle discipline — windows hash
    * scan-side, the corpus-sized shuffle carries (hash, doc, pos)
    * rows, never window text; the interval merge is one per-doc
    * window pass over DUPLICATED window starts only (sparse: a mostly
    * novel corpus contributes almost nothing). Cross-corpus xxhash64
    * collisions could bridge two distinct grams (~n²/2^64); the
    * oracle works over gram strings, so the harness would catch one.
    * Output: (doc_id, span_start, span_len, n_windows) — one row per
    * maximal duplicated interval. */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               spanN: Int = 10): DataFrame = {
    require(spanN >= 2, "spanN must be >= 2")
    val base = df.select(col(idCol).as("doc_id"),
      split(col(textCol), " ", -1).as("__toks"))
    val win = base.filter(size(col("__toks")) >= spanN)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__toks) - $spanN)," +
          s" i -> xxhash64(array_join(slice(__toks, i + 1, $spanN), ' ')))")))
      .withColumnRenamed("col", "h")
    val occ = win.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val dup = win.join(occ.filter(col("occ") >= 2), "h")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("pos"), 1).over(w)
    dup
      // windows [p0, p0+N-1] and [p, p+N-1] cover contiguously iff
      // p <= p0 + N (adjacent counts: the union has no hole)
      .withColumn("__new",
        when(prev.isNull || col("pos") - prev > spanN, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + spanN).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_windows"))
  }

  /** SPAN-level benchmark decontamination — the scrub the doc-level
    * flag ([[contamination]], q45) cannot do: instead of dropping any
    * training document sharing shingles with the eval set (which
    * throws away a whole book over one quoted benchmark question),
    * remove ONLY the token positions covered by a `spanN`-token
    * window that appears verbatim anywhere in the eval texts, and
    * reassemble the document — the Lee et al. ExactSubstr machinery
    * pointed at a reference set. ALL matching occurrences are elided
    * (no first-copy survivor: eval text must not exist in training
    * data at all). Positional-cover semantics identical to
    * [[removeDupSpans]]; boundary semantics identical to [[dupSpans]]
    * (an eval overlap of length >= spanN is scrubbed exactly; under
    * spanN it is invisible — the match-length contract).
    *
    * Scale: eval windows hash scan-side to a distinct 64-bit set —
    * typically broadcast-sized (eval suites are MBs, corpora are TBs)
    * so the cover test is a broadcast semi-join; the corpus-sized
    * shuffles carry (doc, tokpos) ints and the reassembly groups by
    * doc. Cross-set xxhash64 collisions could scrub an innocent
    * window (~n_eval·n_corpus/2^64); the oracle works over gram
    * strings, so the harness would catch one.
    * Output: (doc_id, clean_text, n_removed) for every corpus doc. */
  def scrubEvalSpans(corpus: DataFrame, eval: DataFrame, textCol: String,
                     idCol: String, spanN: Int = 10): DataFrame = {
    require(spanN >= 2, "spanN must be >= 2")
    def windows(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ", -1).as("__toks"))
      .filter(size(col("__toks")) >= spanN)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__toks) - $spanN)," +
          s" i -> xxhash64(array_join(slice(__toks, i + 1, $spanN), ' ')))")))
      .withColumnRenamed("col", "h")
    val evalW = broadcast(windows(eval).select(col("h")).distinct())
    val covered = windows(corpus).join(evalW, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanN - 1))).as("tp"))
      .distinct()
    val base = corpus.select(col(idCol).as("doc_id"),
      split(col(textCol), " ", -1).as("__toks"))
    val toks = base.select(col("doc_id"), posexplode(col("__toks")))
      .withColumnRenamed("pos", "tp").withColumnRenamed("col", "tok")
    val rebuilt = toks.join(covered, Seq("doc_id", "tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    base.select(col("doc_id"), size(col("__toks")).cast("long").as("__n"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** Line-level dedup (the CCNet/RefinedWeb line-dedup stage): drop lines
    * duplicated ACROSS documents — boilerplate headers, navigation,
    * cookie banners — while keeping one canonical copy (the occurrence in
    * the smallest doc id), then reassemble each document from its kept
    * lines in order.
    *
    * The harness corpus has no newlines, so "lines" are fixed-width
    * `wordsPerLine`-token chunks of the whitespace token stream — the
    * chunking is part of the operator contract and the oracle replays it;
    * on real text pass the same text split on '\n' upstream.
    *
    * Scale: lines are hashed scan-side (xxhash64) and only (doc_id, idx,
    * hash) triples shuffle for the frequency pass — the line TEXT stays in
    * the originating partition until reassembly, which groups by doc_id
    * (one shuffle of the kept lines, output-sized). A line repeated only
    * WITHIN one doc has doc-frequency 1 and is kept everywhere. Counts
    * are exact; a cross-doc xxhash64 collision (~n²/2^64) could merge two
    * distinct lines — the oracle works over line strings, so the harness
    * would catch it.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                wordsPerLine: Int = 8): DataFrame = {
    val k = wordsPerLine
    val lines = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(__toks) / $k.0) as int) - 1)," +
          s" i -> array_join(slice(__toks, i * $k + 1, $k), ' '))")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "line")
      .withColumn("h", xxhash64(col("line")))
    // doc-frequency + canonical owner per line hash; id-only shuffle
    val stats = lines.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("line_df"), min(col("doc_id")).as("min_doc"))
    lines.join(stats, "h")
      .withColumn("keep", col("line_df") === 1 || col("doc_id") === col("min_doc"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("idx"), col("line"))))),
          x => x.getField("line")), " ").as("clean_text"))
  }

  /** n-gram Jaccard similarity for all candidate pairs sharing at least one
    * shingle (inverted-index join — the exact-but-pruned variant; MinHash is
    * the approximate variant of the same pipeline). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        maxPostings: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      TextAnalysis.shingles(col(textCol), shingleN).as("sh"))
      .withColumn("n", size(col("sh")))
    // Hash each shingle to 64 bits BEFORE the shuffle (explode is narrow):
    // the inverted index moves 8-byte keys instead of shingle strings —
    // same pair counts (a 64-bit collision inside one pair's postings is
    // ~n²/2^64), a fraction of the shuffle bytes.
    val postings = sh.select(col("id"), col("n"), explode(col("sh")).as("g0"))
      .select(col("id"), col("n"), xxhash64(col("g0")).as("g"))
    // Drop stop-shingles (huge postings lists) — they only generate noise
    // pairs and quadratic blowup; production near-dup pipelines do the same.
    // Window (one shuffle + sort) beats groupBy-count + join (two
    // shuffles) here — measured. df >= 2: singleton shingles (the
    // majority) can't produce a pair; df <= maxPostings drops
    // stop-shingles that only generate quadratic noise pairs.
    val rare = postings.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("df") >= 2 && col("df") <= maxPostings)
    val a = rare.select(col("g"), col("id").as("id_a"), col("n").as("n_a"))
    val b = rare.select(col("g"), col("id").as("id_b"), col("n").as("n_b"))
    a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding-cosine near-duplicates via hyperplane-LSH buckets + exact
    * verify. Deterministic pseudo-random hyperplanes (splitmix64 over
    * (plane, dim)) so re-runs bucket identically. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       dim: Int, planes: Int = 8, threshold: Double = 0.95,
                       maxBucket: Int = 10000): DataFrame = {
    // Pre-normalize once per vector so pair verification is a single dot
    // product (the per-pair norm would otherwise triple the HOF math on the
    // quadratic-ish candidate set).
    val normed = df.select(col(idCol).as("id"), col(vecCol).as("v0"))
      .withColumn("nrm", Similarity.norm(col("v0")))
      .withColumn("v", when(col("nrm") > 0,
        transform(col("v0"), x => x / col("nrm"))).otherwise(col("v0")))
      .select(col("id"), col("v"))
    val bucketed = normed
      .withColumn("bucket", Similarity.hyperplaneBucket(col("v"), dim, planes))
    val pairs = pairsFromBuckets(bucketed, Seq("bucket"), maxBucket,
      "graft.dedup.embed.buckets")
      .select("id_a", "id_b").distinct()
      .join(normed.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(normed.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
    pairs.withColumn("cosine", round(Similarity.dot(col("v_a"), col("v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Resolve near-dup pairs into clusters: iterative min-label propagation
    * (each node adopts the smallest id reachable through pair edges).
    * Returns (id, cluster_id) for every id appearing in a pair; singleton
    * docs keep themselves implicitly. Converges in O(diameter) rounds —
    * near-dup clusters are shallow (dup groups, not social graphs), so the
    * iteration cap is generous. Each round is two shuffles on id;
    * localCheckpoint truncates the growing lineage (the alternative at
    * true graph scale is the large-star/small-star algorithm — same joins,
    * better worst-case rounds).
    */
  def clusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // Undirected edge list, both directions, materialized once. (No manual
    // repartition: the per-iteration joins re-shuffle to the session's
    // partitioning anyway and AQE coalesces small shuffles.)
    val edges = cut(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_id")).as("nmin"))
      // Fold the convergence flag into the same pass — a separate
      // next-vs-old join would add a shuffle per iteration.
      val next = cut(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("old"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id")))
      converged = next.filter(col("cluster_id") =!= col("old")).isEmpty
      labels = next.select(col("id"), col("cluster_id"))
      i += 1
    }
    // Never return silently-wrong labels: a component whose diameter
    // exceeds maxIter would leave nodes mislabeled and dedup would keep
    // duplicates. Diameter > 50 means the input isn't near-dup pairs.
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIter iterations — " +
          "component diameter exceeds maxIter; raise maxIter")
    labels
  }

  /** Connected components by LARGE-STAR / SMALL-STAR contraction — the
    * published alternating-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): O(log n) rounds regardless of
    * component diameter, where [[clusters]]' min-label propagation needs
    * O(diameter) rounds. Choose this for long-chain graphs (similarity
    * chains, social graphs); label propagation stays cheaper per round
    * for the shallow components near-dup corpora produce.
    *
    * Edges are kept canonically as (u, v) with v < u. Per round:
    * large-star connects every neighbor larger than u to u's minimum
    * (self included); small-star connects every smaller neighbor (and u)
    * to that minimum. Both preserve connectivity; the fixpoint is a
    * forest of stars rooted at each component's minimum id. Convergence
    * is tested EXACTLY — a round is final when no edge's root has an
    * outgoing edge (pure stars), not via a fingerprint heuristic — and
    * non-convergence within maxIter throws rather than mislabeling.
    * Output schema matches [[clusters]]: (id, cluster_id). */
  def clustersStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val raw = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
    val nodes = cut(raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id"))).distinct())
    var edges = cut(raw
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: symmetrize, group by u, connect each bigger neighbor
      // to min(neighbors ∪ {u}) — keeps the (big, small) edge invariant
      val bidir = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val nmin = bidir.groupBy(col("u")).agg(min(col("v")).as("nmin"))
      val afterLarge = bidir.join(nmin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("nmin"), col("u")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: edges already point big -> small; connect every
      // smaller neighbor AND u itself to u's minimum neighbor
      val smin = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val afterSmall = cut(afterLarge.join(smin, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(smin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct())
      // exact star test: converged iff no edge target is itself a source
      converged = afterSmall.alias("a")
        .join(afterSmall.alias("b"), col("a.v") === col("b.u"), "left_semi")
        .isEmpty
      edges = afterSmall
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIter rounds — " +
          "unexpected for O(log n) convergence; raise maxIter")
    nodes.join(edges.select(col("u").as("id"), col("v").as("cluster_id")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** End-to-end near-dup resolution: pairs -> clusters -> per-cluster
    * stats (survivor = min id, n members). */
  def resolve(pairs: DataFrame): DataFrame =
    clusters(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("survivor_id"))

  /** The complete dedup operation a pipeline actually calls: MinHash near-
    * dup detection, cluster resolution, and removal of every non-survivor
    * row — returns the surviving corpus with original columns. Min-label
    * propagation converges to each component's minimum id, so the survivor
    * test is simply `id == cluster_id`; docs in no pair are untouched. */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
                  bands: Int = 16, rowsPerBand: Int = 2,
                  shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, textCol, idCol, bands, rowsPerBand,
      shingleN, threshold)
    val drops = clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with QUALITY-AWARE survivor selection: each near-dup
    * cluster keeps its best-scoring member (highest `scoreCol`, ties to
    * the smallest id) instead of the smallest id. This is the production
    * rule when near-dups differ in worth — a truncated mirror and the
    * full article cluster together, and min-id would keep whichever
    * crawled first; scoring by length/quality keeps the right one.
    *
    * Scale: one extra id-keyed join (cluster assignment back onto the
    * corpus) and a row_number window partitioned by cluster id — a
    * high-cardinality key (singleton clusters dominate any real corpus),
    * so the per-partition sort is cluster-sized, never stratum-sized. */
  def dedupCorpusKeepBest(df: DataFrame, textCol: String, idCol: String,
                          scoreCol: String,
                          bands: Int = 16, rowsPerBand: Int = 2,
                          shingleN: Int = 3,
                          threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, textCol, idCol, bands, rowsPerBand,
      shingleN, threshold)
    val cl = clusters(pairs).withColumnRenamed("id", idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cl"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.join(cl, Seq(idCol), "left")
      .withColumn("__cl", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__cl", "cluster_id")
  }

  /** The batch's banded signature rows under the COMBINED skew cap
    * (existing index rows + batch rows per bucket ≤ `maxBucket`),
    * against a caller-provided existing-index frame — the write-free
    * core of the index writers and the manifest-mode ingestion gate.
    * An uncapped boilerplate bucket would explode every later batch
    * join against the index; existing counts come from a semi-joined
    * read of only the buckets the batch touches, so no bucket ever
    * exceeds the cap no matter how many appends ran. The rows the cap
    * drops are not counted anywhere yet, unlike the bucket-confined
    * self-joins that record [[bucketStats]]. */
  private[graft] def cappedIndexRows(existingIdx: DataFrame, df: DataFrame,
                                     textCol: String, idCol: String,
                                     bands: Int, rowsPerBand: Int,
                                     shingleN: Int,
                                     maxBucket: Int): DataFrame = {
    val banded = bandedSignatures(df, textCol, idCol, bands, rowsPerBand,
      shingleN)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh"))
    val existing = existingIdx
      .join(banded.select(col("band"), col("bh")).distinct(),
        Seq("band", "bh"), "left_semi")
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__en"))
    banded.withColumn("__bn", count(lit(1)).over(w))
      .join(existing, Seq("band", "bh"), "left")
      .filter(col("__bn") + coalesce(col("__en"), lit(0L)) <= maxBucket)
      .drop("__bn", "__en")
  }

  // -------- persisted minhash index: ManifestTable-committed --------

  /** Table name the dedup index commits under its root —
    * deliberately the SAME name the manifest-mode ingestion gate
    * ([[graft.streaming.CorpusIngest.dedupIngestManifest]]) writes, so
    * batch and stream publish one index shape. */
  private val MhIndexTable = "index"

  /** Fixed-schema empty index frame (the bootstrap shape every index
    * reader must survive). */
  private[graft] def emptyMinhashIndex(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id"), lit(0L).as("bh"), lit(0).as("band"))

  /** Materialize a MinHash LSH index of the corpus under `root`: the
    * banded (id, bh, band) keys committed through
    * [[graft.etl.ManifestTable]]. This is the production shape for
    * CONTINUOUS ingestion at 100 TB: index the historical corpus once,
    * then each new batch joins its own banded keys against the index
    * ([[incrementalPairsVersioned]]) instead of re-pairing the full
    * corpus — incremental cost is proportional to the batch. One atomic
    * commit-file PUT per publish gives snapshot isolation for readers
    * racing appends/forgets, "pairs as of version V" time travel, and
    * retention vacuum. Rows are range-clustered by `band` so manifest
    * min/max stats skip files per band, matching the manifest-mode
    * ingestion gate's `statsCols`. The stop-shingle skew cap applies at
    * write time ([[cappedIndexRows]] against an empty index). Returns
    * the version. */
  def minhashIndexWriteVersioned(df: DataFrame, textCol: String,
                                 idCol: String, root: String,
                                 bands: Int = 16, rowsPerBand: Int = 2,
                                 shingleN: Int = 3,
                                 maxBucket: Int = 1000): Long = {
    val spark = df.sparkSession
    val rows = cappedIndexRows(emptyMinhashIndex(spark), df, textCol, idCol,
        bands, rowsPerBand, shingleN, maxBucket)
      .repartitionByRange(col("band"))
      .sortWithinPartitions(col("band"), col("bh"))
    // secondary id bloom on every file (band stats stay the primary,
    // range-dense, bloom-free pruning axis): the doc-id forget path
    // ([[minhashIndexForgetVersioned]]) probes it so a GDPR delete
    // rewrites only files that actually CONTAIN a forgotten id instead
    // of scanning every band partition for each forget
    graft.etl.ManifestTable.overwrite(spark, root, MhIndexTable, rows,
      statsCol = Some("band"), extraBloomCols = Seq("id"))
  }

  /** APPEND a new batch's banded keys to the index — continuous
    * ingestion without ever re-indexing the corpus: one signature pass
    * over the batch, whose capped rows commit as a NEW version through
    * the idempotent manifest append (keyed on (id, band) — one bucket
    * row per document per band), so a replayed batch appends 0 rows and
    * creates NO version, and readers of the previous version are
    * untouched. The skew cap counts existing index rows plus batch rows
    * per bucket. Band settings MUST match the write's. Returns rows
    * appended. */
  def minhashIndexAppendVersioned(spark: org.apache.spark.sql.SparkSession,
                                  df: DataFrame, textCol: String,
                                  idCol: String, root: String,
                                  bands: Int = 16, rowsPerBand: Int = 2,
                                  shingleN: Int = 3,
                                  maxBucket: Int = 1000): Long = {
    val existing = graft.etl.ManifestTable.read(spark, root, MhIndexTable)
      .select(col("id"), col("bh"), col("band"))
    val rows = cappedIndexRows(existing, df, textCol, idCol, bands,
      rowsPerBand, shingleN, maxBucket)
    // write-time bloom on band (batch-proportional cost): an appended
    // file's [min,max] can span bands the batch never produced rows for
    // (the skew cap drops whole (band,bh) buckets) — band-probed
    // maintenance reads (a band `isin` filter) skip those. The base
    // write stays band-bloom-free: range-clustered full-corpus files are
    // band-dense.
    // The secondary id bloom keeps the forget path's coverage across
    // appends ([[minhashIndexForgetVersioned]]).
    graft.etl.ManifestTable.appendNew(spark, root, MhIndexTable, rows,
      key = Seq("id", "band"), statsCol = Some("band"),
      bloomCol = Some("band"), extraBloomCols = Seq("id"))
  }

  /** Forget documents from the versioned index: manifest copy-on-write
    * at FILE granularity ([[graft.etl.ManifestTable.deleteWhere]]) —
    * the forgotten ids stop generating candidates in the CURRENT
    * version immediately, while every pre-delete version stays
    * queryable until retention drops it — the audit trail a
    * right-to-be-forgotten pipeline wants. Returns
    * (filesRewritten, rowsDeleted). */
  def minhashIndexDeleteVersioned(spark: org.apache.spark.sql.SparkSession,
                                  root: String,
                                  pred: Column): (Long, Long) =
    graft.etl.ManifestTable.deleteWhere(spark, root, MhIndexTable, pred,
      statsCol = Some("band"), bloomCol = Some("band"),
      extraBloomCols = Seq("id"))

  /** Forget a KEY SET of document ids from the versioned index — the
    * right-to-be-forgotten fast path [[minhashIndexDeleteVersioned]]'s
    * arbitrary predicate can't have: the id set probes the per-file
    * SECONDARY id blooms (written by every versioned index writer), so
    * discovery reads — and the rewrite touches — only files that
    * actually CONTAIN a forgotten id, instead of scanning every band
    * partition per forget ([[graft.etl.ManifestTable.deleteByKeys]];
    * `mergeDiscoveryStats(root, "index")` reports the skip rate). One
    * atomic commit; pre-forget versions stay readable until retention
    * drops them. `ids` must carry an `id` column. Returns
    * (filesRewritten, rowsDeleted). */
  def minhashIndexForgetVersioned(spark: org.apache.spark.sql.SparkSession,
                                  root: String,
                                  ids: DataFrame): (Long, Long) =
    graft.etl.ManifestTable.deleteByKeys(spark, root, MhIndexTable,
      ids.select(col("id")), key = Seq("id"), statsCol = Some("band"),
      bloomCol = Some("band"), extraBloomCols = Seq("id"))

  /** Near-dup pairs between a NEW batch and the indexed historical
    * corpus, optionally pinned to a retained `version` — "which of these
    * documents were near-dups of the corpus AS OF version V", consistent
    * by construction while appends and forgets commit concurrently.
    * Candidates come from joining the batch's banded keys against the
    * index on (band, bh) — the corpus side never recomputes signatures
    * — then exact-Jaccard verification joins only the candidate ids'
    * texts. `corpus` must supply the texts of the indexed ids (the
    * caller keeps index and corpus in step, or accepts missing-text
    * drops). Band settings MUST match the write's. Returns
    * (new_id, old_id, jaccard). */
  def incrementalPairsVersioned(spark: org.apache.spark.sql.SparkSession,
                                newDocs: DataFrame, corpus: DataFrame,
                                textCol: String, idCol: String,
                                root: String, bands: Int = 16,
                                rowsPerBand: Int = 2, shingleN: Int = 3,
                                threshold: Double = 0.5,
                                version: Option[Long] = None): DataFrame = {
    val idx = version match {
      case Some(v) =>
        graft.etl.ManifestTable.readAt(spark, root, MhIndexTable, v)
      case None => graft.etl.ManifestTable.read(spark, root, MhIndexTable)
    }
    incrementalPairsFrame(newDocs, corpus,
      idx.select(col("id"), col("bh"), col("band")), textCol, idCol,
      bands, rowsPerBand, shingleN, threshold)
  }

  /** [[incrementalPairsVersioned]] against a caller-provided
    * (id, bh, band) index FRAME — shared with the manifest-mode
    * ingestion gate, which reads its index from its own commit. */
  private[graft] def incrementalPairsFrame(newDocs: DataFrame,
                                           corpus: DataFrame,
                                           indexFrame: DataFrame,
                                           textCol: String, idCol: String,
                                           bands: Int, rowsPerBand: Int,
                                           shingleN: Int,
                                           threshold: Double): DataFrame = {
    val newBanded = bandedSignatures(newDocs, textCol, idCol, bands, rowsPerBand, shingleN)
    val idx = indexFrame.withColumnRenamed("id", "old_id")
    val candidates = cut(newBanded.join(idx, Seq("band", "bh"))
      .filter(col("id") =!= col("old_id"))
      .select(col("id").as("new_id"), col("old_id")).distinct())

    def shinglesOf(src: DataFrame, ids: DataFrame, as: String) =
      src.select(col(idCol).as(as), col(textCol).as("__txt"))
        .join(ids, Seq(as), "left_semi")
        .select(col(as), TextAnalysis.shingles(col("__txt"), shingleN).as(s"sh_$as"))

    val newSh = shinglesOf(newDocs, candidates.select("new_id").distinct(), "new_id")
    val oldSh = shinglesOf(corpus, candidates.select("old_id").distinct(), "old_id")
    candidates
      .join(newSh, Seq("new_id")).join(oldSh, Seq("old_id"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_new_id"), col("sh_old_id"))).cast("double") /
          size(array_union(col("sh_new_id"), col("sh_old_id"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
  }

  // ---------------- SQL-replayable LSH recall board ----------------

  /** Modulus of the portable hash family: 2^31 - 1 (prime). */
  private[graft] val PortableP = 2147483647L

  /** Literal-constant (a_j, b_j) pairs of the portable universal-hash
    * family — a deterministic power ladder mod P, generated once and
    * embedded as LITERALS on both engine sides (the Spark plan and the
    * oracle SQL string are built from this same Seq, so they cannot
    * drift). */
  private[graft] def portableAB(k: Int): Seq[(Long, Long)] = {
    var a = 1L; var b = 7L
    (0 until k).map { _ =>
      a = a * 1000003L % PortableP
      b = (b * 8191L + 5381L) % PortableP
      (a, b)
    }
  }

  /** Measured MinHash-LSH RECALL board, oracle-gradable end to end.
    *
    * The production signature path ([[minhashPairs]] /
    * [[minhashIndexWriteVersioned]]) hashes with xxhash64 — codegen'd and
    * scan-side, but not replayable in an external SQL engine, so its
    * recall could only ever be a spec assertion on fixtures. This board
    * swaps in a PORTABLE hash family whose every step is exact integer
    * arithmetic any ANSI engine reproduces bit-for-bit:
    *
    *   h(s)     = (Σ_i codepoint(s_i) · i) mod P          (P = 2^31-1)
    *   m_j      = min over shingles of (a_j·h + b_j) mod P (literal a,b)
    *   band key = the r row minhashes packed 31 bits at a time
    *              (pairs mod-P-folded once beyond 62 bits)
    *
    * and grades the banded candidate pairs against the EXACT Jaccard
    * pair set ([[SetSimJoin.prefixFilteredPairs]] — lossless at the
    * threshold). One row per (bands, rowsPerBand) config:
    * (bands, rows_per_band, n_exact, n_cand, n_hits, recall_p6) — the
    * empirical S-curve the band planner (q268) predicts analytically,
    * now measured under an oracle instead of asserted on fixtures.
    *
    * Scale: the hash/minhash/band stages keep the production shuffle
    * shape (id-keyed, signatures only), but the exact grader bounds the
    * corpus this board should run on — it is a measurement harness for
    * a sampled slice, not a dedup path. Parity caveat: per-character
    * indexing assumes BMP text (both engines compare code points;
    * supplementary-plane indexing differs across engines). */
  def minhashRecallBoard(df: DataFrame, textCol: String, idCol: String,
                         shingleN: Int = 3, threshold: Double = 0.5,
                         configs: Seq[(Int, Int)] =
                           Seq((4, 4), (8, 2), (16, 2))): DataFrame = {
    require(configs.forall { case (_, r) => r == 2 || r == 4 },
      "rowsPerBand must be 2 or 4 (the 31-bit band-key packing)")
    val kMax = configs.map { case (b, r) => b * r }.max
    val ab = portableAB(kMax)
    // ONE wide aggregate: kMax min() columns over the per-shingle hash.
    // The former shape exploded kMax (j,a,b) rows per (id, shingle)
    // occurrence before a (id, j)-keyed aggregation — kMax× the rows
    // into the map-side combine — and paid a string-level distinct()
    // exchange first. Neither is needed: min over a multiset equals min
    // over its set (duplicate (id, shingle) occurrences cannot change
    // any m_j), and the wide aggregate's exchange carries ONE
    // kMax-column row per id instead of kMax rows (guide §2.3
    // "aggregate before you shuffle").
    val h = graft.Tables.fanOut(df, col(idCol))
      .select(col(idCol).as("id"),
        explode(TextAnalysis.shingles(col(textCol), shingleN)).as("s"))
      .withColumn("h", expr(
        s"""aggregate(
           |  transform(sequence(1, char_length(s)),
           |    i -> CAST(ascii(substring(s, i, 1)) AS BIGINT) * i),
           |  0L, (acc, x) -> acc + x) % $PortableP""".stripMargin))
    val minCols = ab.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % lit(PortableP)).as(s"m$j") }
    // the minhash table and the exact-Jaccard grader are INDEPENDENT
    // subtrees that both lineage-cut eagerly — overlap their
    // materializations (guide §2.6) instead of paying them back to back
    val (mh, exact) = graft.Overlap.pair(
      Lineage.cut(h.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)),
      Lineage.cut(SetSimJoin.prefixFilteredPairs(df, textCol,
        idCol, shingleN, threshold).select(col("id_a"), col("id_b"))))
    val Shift = 2147483648L // 2^31: each minhash is < P < 2^31
    val boards = configs.map { case (bands, r) =>
      // band keys straight off the wide row — the former per-config
      // (id, band)-keyed pivot aggregation (one exchange per config)
      // is a zero-shuffle projection of the materialized minhash table
      def keyOf(base: Int): Column = r match {
        case 2 => col(s"m$base") * Shift + col(s"m${base + 1}")
        case 4 =>
          ((col(s"m$base") * Shift + col(s"m${base + 1}")) % PortableP) *
            Shift +
            ((col(s"m${base + 2}") * Shift + col(s"m${base + 3}")) %
              PortableP)
      }
      val bk = mh.select(col("id"),
        posexplode(array((0 until bands).map(b => keyOf(b * r)): _*))
          .as(Seq("band", "key")))
      val cand = bk.join(bk.select(col("band"), col("key"),
          col("id").as("id_b")), Seq("band", "key"))
        .filter(col("id") < col("id_b"))
        .select(col("id").as("id_a"), col("id_b")).distinct()
      val stats = cand
        .join(exact.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"),
          "left")
        .agg(count(lit(1)).as("n_cand"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      val ne = exact.agg(count(lit(1)).as("n_exact"))
      stats.crossJoin(broadcast(ne))
        .select(lit(bands.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"),
          col("n_exact"), col("n_cand"), col("n_hits"),
          when(col("n_exact") > 0,
            floor(col("n_hits").cast("double")
              / col("n_exact").cast("double") * lit(1e6) + lit(0.5d))
              .cast("long"))
            .otherwise(lit(-1L)).as("recall_p6"))
    }
    boards.reduce(_ unionByName _)
  }

  /** The measured choice of one recall-board run: what was picked, its
    * measured recall (1e6 grid), and its candidate volume — the
    * observability record [[chooseLshConfig]] leaves behind. */
  final case class LshChoice(bands: Int, rowsPerBand: Int,
                             recallP6: Long, nCand: Long)

  private val lshChoiceRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, LshChoice]()

  /** Last config chosen under `metricName` (e.g.
    * "graft.dedup.lsh.choice") in this JVM. */
  def lshConfigChoice(metricName: String): Option[LshChoice] =
    Option(lshChoiceRegistry.get(metricName))

  /** Pick (bands, rowsPerBand) from MEASURED recall instead of the
    * S-curve model alone: run [[minhashRecallBoard]] on `sample` (a
    * small graded slice — the board's exact grader bounds what it can
    * run on) and return the CHEAPEST config whose measured candidate
    * recall meets `recallFloorP6` (recall on the 1e6 grid, e.g. 950000
    * = 0.95). Cheapest = fewest candidate pairs (the actual pair-join
    * cost on THIS corpus), ties to the smaller signature budget b*r.
    * The [[lshPlan]] S-curve predicts where the floor can be met; the
    * board verifies it on real text — model proposes, measurement
    * disposes. Fail-loud contract: a sample with NO exact near-dup
    * pairs can't grade anything (seed it — the q333 graded-corpus
    * shape), and a floor no config meets needs a bigger signature
    * budget, not a silent best-effort. The choice is recorded under
    * `metricName` ([[lshConfigChoice]]) so pipelines can log what the
    * tuner decided. */
  def chooseLshConfig(sample: DataFrame, textCol: String, idCol: String,
                      recallFloorP6: Long, shingleN: Int = 3,
                      threshold: Double = 0.5,
                      configs: Seq[(Int, Int)] =
                        Seq((2, 4), (4, 4), (8, 2), (16, 2)),
                      metricName: String = "graft.dedup.lsh.choice"): (Int, Int) = {
    require(recallFloorP6 >= 0L && recallFloorP6 <= 1000000L,
      "recallFloorP6 on the 1e6 grid")
    val rows = minhashRecallBoard(sample, textCol, idCol, shingleN,
      threshold, configs)
      .select(col("bands"), col("rows_per_band"), col("n_cand"),
        col("recall_p6"), col("n_exact"))
      .collect()
    require(rows.forall(_.getLong(4) > 0L),
      "chooseLshConfig: the sample carries no exact near-dup pairs — " +
        "recall is unmeasurable; seed the sample (graded-corpus shape) " +
        "or pick the config explicitly")
    val qualifying = rows.filter(_.getLong(3) >= recallFloorP6)
    require(qualifying.nonEmpty, {
      val best = rows.map(_.getLong(3)).max
      s"chooseLshConfig: no config meets recall floor $recallFloorP6 " +
        s"(best measured ${best}) — raise the signature budget"
    })
    val pick = qualifying.minBy(r =>
      (r.getLong(2), r.getLong(0) * r.getLong(1), r.getLong(0)))
    val choice = LshChoice(pick.getLong(0).toInt, pick.getLong(1).toInt,
      pick.getLong(3), pick.getLong(2))
    lshChoiceRegistry.put(metricName, choice)
    System.err.println(s"[$metricName] chose (bands=${choice.bands}, " +
      s"rows=${choice.rowsPerBand}) at measured recall " +
      s"${choice.recallP6 / 1e6} with ${choice.nCand} candidates")
    (choice.bands, choice.rowsPerBand)
  }

  /** [[dedupCorpus]] with the band config chosen by MEASURED recall on
    * `sample` at `recallFloorP6` ([[chooseLshConfig]]) instead of
    * hardcoded knobs — the full tuning loop in one call: grade the
    * sample, pick the cheapest qualifying config, dedup the corpus
    * under it. The sample should be a bounded graded slice; the corpus
    * pays only the chosen config's banded join. */
  def dedupCorpusTuned(df: DataFrame, sample: DataFrame, textCol: String,
                       idCol: String, recallFloorP6: Long,
                       shingleN: Int = 3, threshold: Double = 0.5,
                       configs: Seq[(Int, Int)] =
                         Seq((2, 4), (4, 4), (8, 2), (16, 2))): DataFrame = {
    val (bands, rowsPerBand) = chooseLshConfig(sample, textCol, idCol,
      recallFloorP6, shingleN, threshold, configs)
    dedupCorpus(df, textCol, idCol, bands, rowsPerBand, shingleN, threshold)
  }

  /** Benchmark decontamination: flag corpus documents that share at least
    * `minOverlap` distinct word n-grams with any document of the (small)
    * eval set — the published C4/GPT-3-style containment check run before
    * training. The eval set's shingles are the broadcast side; the corpus
    * contributes one row per (doc, shingle) only for shingles that exist
    * in the eval set (broadcast semi join BEFORE the aggregation), so at
    * 100 TB the only shuffle is the per-doc count of the matching rows.
    * The join compares the gram STRINGS — the broadcast semi join never
    * shuffles them, and hashing would trade exactness (and oracle parity)
    * for nothing. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, textCol: String,
                    idCol: String, shingleN: Int = 3,
                    minOverlap: Int = 5): DataFrame = {
    val evalGrams = evalSet
      .select(explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"))
      .distinct()
    val corpusGrams = corpus.select(col(idCol).as("id"),
      explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"))
    corpusGrams
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .withColumnRenamed("id", idCol)
  }

  /** [[contamination]] for eval sets too big to broadcast: the exact
    * gram check must then be a SHUFFLE join, and shuffling every corpus
    * gram (10^12 at 100 TB) to probe it is the bottleneck. A Bloom filter
    * of the eval gram set (bounded: ~1.2 MB per 10^6 grams at 1% fpp)
    * prunes the corpus gram stream SCAN-SIDE first, so only grams that
    * might match — true matches plus the fpp tail — reach the shuffle:
    * a ~1/fpp reduction of the dominant stage.
    *
    * Output is IDENTICAL to [[contamination]] by construction: Bloom
    * filters have no false negatives (pruning cannot lose a true match)
    * and the exact join removes the false positives — which is why q166
    * is graded by the same exact oracle as q45. */
  def contaminationBloomPruned(corpus: DataFrame, evalSet: DataFrame,
                               textCol: String, idCol: String,
                               shingleN: Int = 3, minOverlap: Int = 5,
                               fpp: Double = 0.01): DataFrame = {
    val evalGrams = evalSet
      .select(explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"))
      .distinct()
    // builder sizing: one eval-sized count; the filter itself is built
    // distributively (per-partition filters OR-merged)
    val nGrams = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("g", nGrams, fpp)
    val corpusGrams = corpus.select(col(idCol).as("id"),
      explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"))
      .filter(graft.expressions.BloomExprs.mightContain(col("g"), bloom))
    // exact verify on the pruned stream — deliberately NOT broadcast:
    // this variant exists for eval sets beyond broadcast size
    corpusGrams
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .withColumnRenamed("id", idCol)
  }

  /** Eval-side contamination profile — the inverse direction of
    * [[contamination]]: for each EVAL document, what fraction of its
    * distinct n-gram shingles appears anywhere in the training corpus.
    * `contamination` answers "which training docs should I drop";
    * this answers "how burned is each benchmark item" — the report an
    * eval release publishes.
    *
    * Scale: the corpus side collapses to its DISTINCT gram set (one
    * map-side-combined aggregation — the only corpus-sized stage) and is
    * immediately inner-joined against the BROADCAST eval gram set, so
    * only grams that occur in the eval set survive the scan; the
    * per-eval-doc rollup then works on that tiny matched frame. */
  def evalOverlapReport(corpus: DataFrame, evalSet: DataFrame, textCol: String,
                        idCol: String, shingleN: Int = 3): DataFrame = {
    val evalGrams = evalSet
      .select(col(idCol).as("eval_id"),
        explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"))
      .distinct()
    val corpusGrams = corpus
      .select(explode(TextAnalysis.shingles(col(textCol), shingleN)).as("g"))
      .distinct()
    val matched = corpusGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_matched"))
    evalGrams.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
      .join(matched, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("overlap_fraction",
        floor(col("n_matched").cast("double") / col("n_grams").cast("double")
          * lit(1e6) + lit(0.5d)) / lit(1e6))
  }

  /** Lineage cut for the small frames that feed multiple downstream
    * branches or iterative loops — the shared [[Lineage.cut]] policy
    * (reliable checkpoint under `spark.graft.checkpoint.dir`,
    * localCheckpoint fast path otherwise; see Lineage's doc). */
  private def cut(df: DataFrame): DataFrame = Lineage.cut(df)

  /** Self-join within bucket keys producing ordered pairs (id_a < id_b),
    * carrying all non-key payload columns as _a/_b. Buckets larger than
    * `maxBucket` are dropped (skew guard). */
  /** Skew-cap outcome of one candidate-generation call: rows discarded by
    * the `maxBucket` guard and the largest bucket seen. */
  final case class BucketStats(droppedRows: Long, maxBucketSize: Long)

  private val bucketStatsRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, BucketStats]()

  /** Last skew-cap stats recorded under `metricName` (e.g.
    * "graft.dedup.minhash.buckets") in this JVM. */
  def bucketStats(metricName: String): Option[BucketStats] =
    Option(bucketStatsRegistry.get(metricName))

  /** The skew-cap + observability core shared by every bucket-confined
    * self-join in the engine (Dedup's banded joins, [[GraphAnn]]'s
    * LSH-init and seed joins): rows of buckets larger than `maxBucket`
    * are DROPPED, and the outcome (dropped rows, largest bucket) is
    * recorded eagerly under `metricName` — capping quadratic work is
    * the right policy, but it must never be silent.
    *
    * The stats job is one lightweight aggregate per call — groupBy
    * combines map-side, so the shuffle carries per-key partial counts,
    * not rows. (`observe` would be free, but AQE drops CollectMetrics
    * metrics under the self-join — verified empirically — and a lost
    * safety metric is worse than a small extra job.) Max-throughput
    * runs that accept silent capping can set
    * spark.graft.bucketStats.enabled=false. */
  private[operators] def cappedBuckets(df: DataFrame, keys: Seq[String],
                                       maxBucket: Int,
                                       metricName: String): DataFrame = {
    val statsEnabled = df.sparkSession.conf
      .getOption("spark.graft.bucketStats.enabled").forall(_.toBoolean)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    if (!statsEnabled)
      return df.withColumn("__bn", count(lit(1)).over(w))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    // ONE pass over the (possibly expensive) input: the windowed count
    // is lineage-cut, and both the eager stats aggregate and the capped
    // output read the materialization — the previous separate groupBy
    // stats job recomputed the bucket keys (a whole signature pass for
    // the GraphAnn callers, measured 2x on graph builds). Row-level
    // accounting is identical: rows with __bn > maxBucket ARE the
    // dropped rows. (`observe` would be free, but AQE drops
    // CollectMetrics metrics under the self-join — verified
    // empirically — and a lost safety metric is worse than one cheap
    // cached-read aggregate.)
    val counted = Lineage.cut(df.withColumn("__bn", count(lit(1)).over(w)))
    val s = counted.agg(
      coalesce(sum(when(col("__bn") > maxBucket, lit(1L))
        .otherwise(lit(0L))), lit(0L)).as("dropped"),
      coalesce(max(col("__bn")), lit(0L)).as("maxb"))
      .head()
    val stats = BucketStats(s.getLong(0), s.getLong(1))
    bucketStatsRegistry.put(metricName, stats)
    if (stats.droppedRows > 0)
      System.err.println(s"[$metricName] skew cap dropped ${stats.droppedRows} " +
        s"rows (largest bucket ${stats.maxBucketSize} > maxBucket $maxBucket)")
    counted.filter(col("__bn") <= maxBucket).drop("__bn")
  }

  private def pairsFromBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int,
                               metricName: String): DataFrame = {
    val capped = cappedBuckets(df, keys, maxBucket, metricName)
    val payload = capped.columns.filterNot(keys.contains)
    val aSide = capped.select(keys.map(col) ++ payload.map(c => col(c).as(c + "_a")): _*)
    val bSide = capped.select(keys.map(col) ++ payload.map(c => col(c).as(c + "_b")): _*)
    aSide.join(bSide, keys).filter(col("id_a") < col("id_b"))
  }

  /** CONTAINMENT self-join: pairs where one document's shingle set is
    * (nearly) a SUBSET of the other's — `|A∩B| / min(|A|, |B|)` >=
    * threshold. The asymmetric complement of Jaccard resemblance: a
    * short quote, a syndicated article embedded in a longer page, or a
    * doc-plus-boilerplate wrapper scores near 1.0 containment while its
    * Jaccard can be arbitrarily LOW (the size ratio divides it away) —
    * so a resemblance join structurally cannot find these, and a
    * containment join is the standard quote/subset-duplication
    * detector (Broder 1997's resemblance-vs-containment distinction).
    *
    * Same inverted-index mechanics as [[ngramJaccardPairs]] (hashed
    * postings, stop-shingle cap, agg-shape intersection counts);
    * only the final normalization differs. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxPostings: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      TextAnalysis.shingles(col(textCol), shingleN).as("sh"))
      .withColumn("n", size(col("sh")))
    val postings = sh.select(col("id"), col("n"), explode(col("sh")).as("g0"))
      .select(col("id"), col("n"), xxhash64(col("g0")).as("g"))
    val dfreq = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val rare = postings.join(dfreq, "g")
      .filter(col("df") >= 2 && col("df") <= maxPostings)
    val a = rare.select(col("g"), col("id").as("id_a"), col("n").as("n_a"))
    val b = rare.select(col("g"), col("id").as("id_b"), col("n").as("n_b"))
    a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", round(col("inter").cast("double")
        / least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** IDF-WEIGHTED Jaccard self-join: resemblance where each shingle
    * counts `ln(N / df)` instead of 1 — shared RARE content drives the
    * score while boilerplate shingles (headers, navigation, license
    * blurbs) contribute almost nothing, so two docs glued together by
    * template chrome no longer pair while short docs sharing one
    * distinctive passage do. `wj = S∩ / (S_A + S_B - S∩)` over weights
    * snapped to the 6dp grid as longs — every sum ORDER-FREE integer,
    * the whole score engine-portable.
    *
    * Scale: identical inverted-index shape to [[ngramJaccardPairs]];
    * the weight rides the postings row (one extra long), per-doc
    * weight totals are one id-keyed aggregation, and the pair stage
    * sums shared weights instead of counting. Stop-shingle cap applies
    * — consistent on both numerator and denominators (weights of
    * capped shingles are excluded everywhere, including doc totals, so
    * the ratio stays internally consistent). */
  def weightedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int = 3, threshold: Double = 0.4,
                           maxPostings: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      TextAnalysis.shingles(col(textCol), shingleN).as("sh"))
    val postings = sh.select(col("id"), explode(col("sh")).as("g0"))
      .select(col("id"), xxhash64(col("g0")).as("g"))
    val n = df.count()
    val dfreq = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPostings)
      .withColumn("w", floor(log(lit(n.toDouble) / col("df").cast("double"))
        * lit(1e6) + lit(0.5d)).cast("long"))
    val weighted = Lineage.cut(postings.join(dfreq, "g"))
    val totals = weighted.groupBy(col("id")).agg(sum(col("w")).as("sw"))
    val a = weighted.select(col("g"), col("w"), col("id").as("id_a"))
    val b = weighted.select(col("g"), col("id").as("id_b"))
    a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w")).as("sInter"))
      .join(totals.select(col("id").as("id_a"), col("sw").as("swa")), "id_a")
      .join(totals.select(col("id").as("id_b"), col("sw").as("swb")), "id_b")
      .withColumn("wjaccard", round(col("sInter").cast("double")
        / (col("swa") + col("swb") - col("sInter")).cast("double"), 6))
      .filter(col("wjaccard") >= threshold)
      .select("id_a", "id_b", "wjaccard")
  }

  /** CONTENT-DEFINED chunking dedup (the FastCDC/LBFS family, here over
    * the token stream): chunk boundaries fall where the hash of the
    * 3-token window ending at a position divides `divisor` — a property
    * of the CONTENT, not of offsets, so an insertion early in a
    * document shifts every byte offset but re-synchronizes the chunk
    * stream at the next content boundary. Fixed-width chunking (the
    * q116 line-dedup convention) loses every chunk after an edit;
    * CDC loses only the edited chunk — the storage/dataset-dedup
    * workhorse for near-identical crawl snapshots.
    *
    * Mechanics are ONE scan-side expression chain per document (gram
    * hashes, boundary filter, segment slicing — no explode until the
    * chunk rows emerge), then chunk-level exact dedup: the global first
    * occurrence per chunk digest is one `min(struct)` aggregation (the
    * removeDupSpans shape — no window, no stratum sort), and every
    * later occurrence is a dup. Boundary candidates live in [2, n-2]
    * so no empty segment can form; a short document is one chunk.
    *
    * Scale: the shuffle carries (digest, doc, idx, token-count) rows —
    * chunk TEXT never leaves the scan except inside the digest; keys
    * are uniform content hashes. Output per document:
    * (doc_id, n_chunks, n_dup_chunks, n_dup_tokens). */
  /** The CDC chunk rows of a corpus: (doc_id, chunk_idx, h, ctok) —
    * the scan-side chunking shared by [[cdcChunkStats]] and the
    * incremental chunk index. */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
                divisor: Int = 8): DataFrame = {
    require(divisor >= 2, "divisor must be >= 2 (expected chunk length)")
    // Materialize the token array as an ATTRIBUTE below the generator
    // (the removeDupSpans shape): building the whole chunk expression
    // from `split(textCol)` directly inlines one split() per
    // element_at — O(n²) re-tokenization per document, measured as the
    // dominant cost of the chunking family at sf0.1.
    val base = df.select(col(idCol).as("doc_id"),
      split(col(textCol), " ", -1).as("__toks"))
    val toks = col("__toks")
    val n = size(toks)
    val gramAt = (p: Column) => concat_ws(" ",
      element_at(toks, p - 1), element_at(toks, p), element_at(toks, p + 1))
    val bounds = filter(
      when(n >= 4, sequence(lit(2), n - 2))
        .otherwise(array().cast("array<int>")),
      p => pmod(conv(substring(md5(gramAt(p)), 1, 8), 16, 10).cast("long"),
        lit(divisor.toLong)) === 0L)
    val starts = concat(array(lit(0)), transform(bounds, b => b + 1))
    val ends = concat(bounds, array(n - 1))
    val chunks = zip_with(starts, ends, (st, en) => struct(
      md5(array_join(slice(toks, st + 1, en - st + 1), " ")).as("h"),
      (en - st + 1).cast("long").as("ctok")))
    base.select(col("doc_id"), posexplode(chunks))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.h").as("h"), col("col.ctok").as("ctok"))
  }

  def cdcChunkStats(df: DataFrame, textCol: String, idCol: String,
                    divisor: Int = 8): DataFrame = {
    // one materialization: the chunk scan (an md5 per gram AND per
    // chunk) feeds both the first-occurrence aggregate and the dup
    // join — recomputing it doubled the operator's cost (measured)
    val rows = Lineage.cut(cdcChunks(df, textCol, idCol, divisor))
    val firsts = rows.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
    rows.join(firsts, "h")
      .withColumn("dup",
        struct(col("doc_id"), col("chunk_idx")) =!= col("first"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("dup"), col("ctok")).otherwise(0L)).as("n_dup_tokens"))
  }

  /** Pair FORENSICS: for each already-detected near-dup pair, the
    * shared/only-A/only-B shingle counts plus the RAREST shared shingle
    * (smallest document frequency, ties by text) as a human-readable
    * witness — the triage view a dedup operator reads before tuning a
    * threshold or whitelisting a template ("are these paired by real
    * content or by boilerplate?").
    *
    * Run on the PAIR OUTPUT (bounded by the detector), not the corpus:
    * shingle STRINGS flow only for the pair-side explode and the
    * corpus-wide df aggregation (one text-keyed agg — the price of a
    * readable witness; the detection path itself stays hash-only).
    * Output: (id_a, id_b, inter, only_a, only_b, rare_shared). */
  def explainPairs(df: DataFrame, textCol: String, idCol: String,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      TextAnalysis.shingles(col(textCol), shingleN).as("sh"))
    val dfreq = sh.select(explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val p = pairs.select(col("id_a"), col("id_b"))
    val ga = p.join(sh.withColumnRenamed("id", "id_a"), "id_a")
      .select(col("id_a"), col("id_b"), explode(col("sh")).as("g"))
    val gb = p.join(sh.withColumnRenamed("id", "id_b"), "id_b")
      .select(col("id_a"), col("id_b"), explode(col("sh")).as("g"))
    val inter = ga.join(gb, Seq("id_a", "id_b", "g"))
      .join(dfreq, "g")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"),
        min(struct(col("gdf"), col("g"))).as("m"))
    val sizes = sh.select(col("id"), size(col("sh")).cast("long").as("n"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("na") - col("inter")).as("only_a"),
        (col("nb") - col("inter")).as("only_b"),
        col("m.g").as("rare_shared"))
  }

  /** Materialize the distinct chunk digests of a corpus as a parquet
    * index, partitioned by the digest's first hex char — the continuous-
    * ingestion shape for CDC dedup (the
    * [[minhashIndexWriteVersioned]] pattern): chunk the history ONCE,
    * then each new batch joins its own chunk digests against the stored
    * index, cost proportional to the batch, never the corpus. */
  def writeCdcChunkIndex(df: DataFrame, textCol: String, idCol: String,
                         path: String, divisor: Int = 8): Unit =
    cdcChunks(df, textCol, idCol, divisor)
      .groupBy(col("h")).agg(count(lit(1)).as("n_refs"))
      .withColumn("hp", substring(col("h"), 1, 1))
      .write.mode("overwrite").partitionBy("hp").parquet(path)

  /** Dedup a NEW batch against a stored chunk index: per new document,
    * how many of its chunks (and tokens) already exist in the indexed
    * history. The join carries batch-sized digest rows against the
    * index — the whole point of materializing it. */
  def incrementalCdcStats(spark: org.apache.spark.sql.SparkSession,
                          newDocs: DataFrame, textCol: String, idCol: String,
                          indexPath: String, divisor: Int = 8): DataFrame = {
    val idx = spark.read.parquet(indexPath).select(col("h"))
    // chunk the batch once — the known-semi-join and the totals both
    // read the same materialization
    val rows = Lineage.cut(cdcChunks(newDocs, textCol, idCol, divisor))
    rows.join(idx, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_known_chunks"),
        sum(col("ctok")).as("n_known_tokens"))
      .join(rows.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"), sum(col("ctok")).as("n_tokens")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
        coalesce(col("n_known_chunks"), lit(0L)).as("n_known_chunks"),
        coalesce(col("n_known_tokens"), lit(0L)).as("n_known_tokens"))
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003 —
    * the MOSS algorithm): hash every character `k`-gram of the
    * separator-stripped text, slide a window of `w` consecutive hashes,
    * keep each window's MINIMUM — guaranteeing any shared substring of
    * length ≥ k+w−1 contributes at least one shared fingerprint, at
    * ~1/w the storage of full k-gram sets. The substring-granular
    * complement of MinHash (q31, whole-document similarity): winnowing
    * localizes WHICH passages overlap.
    *
    * Determinism: the house md5-prefix 32-bit hash (engine-replayable,
    * unlike xxhash64 in DuckDB), windows over 1-based gram positions,
    * texts shorter than k+w−1 grams degrade gracefully (single window
    * over what exists). Output: distinct (doc_id, fp).
    *
    * Scale: ZERO shuffle — grams, hashes and sliding-window minima all
    * compute inside per-row array transforms (each stage materialized
    * in its OWN projection: an expression referenced inside a lambda
    * re-executes per element, the O(len²) trap BENCHNOTES.md round 11
    * documents), and per-doc dedup is `array_distinct` before the
    * explode, so rows leave the scan already unique. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, "k >= 2 and w >= 1")
    // the md5-per-gram fingerprint pass is the most compute-dense
    // per-row stage in the repo — spread a narrow scan across cores
    // first (no-op on already-wide scans)
    val normed = graft.Tables.fanOut(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        regexp_replace(lower(col(textCol)), "[^a-z0-9]+", "").as("__t"))
    val norm = col("__t")
    val grams = when(length(norm) >= k,
      transform(sequence(lit(1), length(norm) - k + 1),
        i => norm.substr(i, lit(k))))
      .otherwise(array(norm))
    val hashed = normed.select(col("doc_id"), grams.as("__gs"))
      .select(col("doc_id"), transform(col("__gs"),
        g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")).as("__hs"))
    val m = size(col("__hs"))
    val wins = transform(sequence(lit(1), greatest(m - lit(w - 1), lit(1))),
      j => array_min(slice(col("__hs"), j, lit(w))))
    hashed.select(col("doc_id"), explode(array_distinct(wins)).as("fp"))
  }

  /** Passage-overlap pairs from winnowing fingerprints: docs sharing
    * fingerprints, scored by shared count and containment
    * (shared / min fingerprint count — the asymmetric-size-robust
    * ratio). Fingerprints shared by more than `maxDf` docs are dropped
    * as stop-fingerprints BEFORE the pair join (boilerplate headers
    * would otherwise quadratically explode one hash key — the same
    * hub discipline as the q257 wedge cap). */
  def winnowOverlap(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, w: Int = 4, maxDf: Int = 100): DataFrame = {
    require(maxDf >= 2, "maxDf must be >= 2")
    val fps = Lineage.cut(winnowFingerprints(df, textCol, idCol, k, w))
    val perDoc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val rare = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("fp")),
      Seq("fp"))
    rare.join(rare.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("doc_id") < col("id_b"))
      .groupBy(col("doc_id").as("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(perDoc.select(col("doc_id").as("id_a"), col("n_fp").as("n_a")),
        Seq("id_a"))
      .join(perDoc.select(col("doc_id").as("id_b"), col("n_fp").as("n_b")),
        Seq("id_b"))
      .withColumn("containment",
        floor(col("n_shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double") * lit(1e6)
          + lit(0.5d)) / lit(1e6))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("containment"))
  }

  /** Compressibility proxy — within-document repeated-window mass: the
    * fraction of a doc's overlapping `spanN`-token windows that repeat
    * an earlier window of the SAME doc, i.e. the share a dictionary
    * coder would eliminate. The classic zlib-ratio corpus screen
    * (machine-generated boilerplate and keyword-stuffed spam compress
    * far better than prose) without the non-replayable codec
    * dependency: window counting is exact and both engines replay it.
    *
    * Scale: ZERO shuffle — one codegen'd shingle pass plus
    * `array_distinct` per row, a purely scan-side column (unlike the
    * corpus-global span families above, self-redundancy never needs to
    * leave the row). Output: (doc_id, n_windows, n_distinct,
    * repeat_mass, keep). */
  def compressibility(df: DataFrame, textCol: String, idCol: String,
                      spanN: Int = 2, maxRepeatMass: Double = 0.1): DataFrame = {
    require(spanN >= 1, "spanN must be >= 1")
    df.select(col(idCol).as("doc_id"),
        graft.functions.TextAnalysis.shinglesAll(col(textCol), spanN)
          .as("__w"))
      .select(col("doc_id"), size(col("__w")).cast("long").as("n_windows"),
        size(array_distinct(col("__w"))).cast("long").as("n_distinct"))
      .withColumn("repeat_mass",
        floor((col("n_windows") - col("n_distinct")).cast("double")
          / col("n_windows") * lit(1e6) + lit(0.5d)) / lit(1e6))
      .withColumn("keep", col("repeat_mass") <= lit(maxRepeatMass))
  }

  /** LSH band planner: for a signature budget of `sigBudget` hashes and
    * a target Jaccard `threshold`, score every (bands, rowsPerBand)
    * split with `b*r <= sigBudget` by its S-curve
    * `p(s) = 1 - (1 - s^r)^b` — collision probability at the
    * threshold, at threshold±0.1 (the false-positive / false-negative
    * shoulders), and the separation `p_hi - p_lo` that a good plan
    * maximizes. The chosen row is the max-separation split (ties to
    * more bands = fewer rows each). The corpus size rides along from
    * one count so the table reads as "at THIS corpus, these are the
    * knobs" — the sizing companion every minhash query (q31, q81)
    * otherwise hardcodes. Plan grid is `sigBudget` rows via explode —
    * no collect, no data-sized work beyond the count. */
  def lshPlan(df: DataFrame, sigBudget: Int, threshold: Double): DataFrame = {
    require(sigBudget >= 2 && sigBudget <= 4096, "sigBudget in [2, 4096]")
    require(threshold > 0.0 && threshold < 1.0, "threshold in (0,1)")
    val n = df.agg(count(lit(1)).as("n_docs"))
    val grid6 = (c: Column) => floor(c * lit(1e6) + lit(0.5d)) / lit(1e6)
    def pAt(s: Double) = grid6(lit(1.0d)
      - pow(lit(1.0d) - pow(lit(s), col("r").cast("double")),
        col("b").cast("double")))
    // shoulders via BigDecimal: `threshold - 0.1` in binary doubles is
    // NOT the double that the oracle's decimal literal (e.g. 0.25)
    // parses to — the repo's non-dyadic-literal discipline. BigDecimal
    // of the shortest decimal repr, exact decimal ±0.1, then one
    // parse-equivalent rounding back to double.
    val lo = math.max((BigDecimal(threshold) - BigDecimal("0.1")).toDouble,
      0.01)
    val hi = math.min((BigDecimal(threshold) + BigDecimal("0.1")).toDouble,
      0.99)
    val plans = n
      .withColumn("r", explode(sequence(lit(1), lit(sigBudget))))
      .withColumn("b", (lit(sigBudget) / col("r")).cast("long"))
      .filter(col("b") >= 1L)
      .select(col("n_docs"), col("b"), col("r").cast("long").as("r"),
        pAt(lo).as("p_lo"), pAt(threshold).as("p_at"), pAt(hi).as("p_hi"))
      .withColumn("separation", grid6(col("p_hi") - col("p_lo")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("separation").desc, col("b").desc)
    plans.withColumn("chosen", row_number().over(w) === 1)
  }
}
