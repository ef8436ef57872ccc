package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{CleaningOps, Dimensions, EntityResolution}
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}

/** Driver contract (see SURVEY.md §7): every operator in the SURVEY §2
  * inventory is exposed as a named query over the harness tables, with an
  * ANSI-SQL oracle DuckDB runs over the same parquet.
  *
  * Conventions for oracle parity:
  *  - every computed column is aliased identically in Spark and SQL;
  *  - aggregates over doubles are `round(_, 2)` on both sides (partial-agg
  *    ordering differs between engines in the last float bits);
  *  - count/row_number results are cast to BIGINT on both sides;
  *  - coerce casts use ANSI-safe guarded casts (CleaningOps) mirrored by
  *    DuckDB TRY_CAST.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): revenue and
    * volume per market segment — scan -> filter -> two joins -> agg, the
    * whole spine of SURVEY §7 step 1. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Co-occurrence edge sample for the graph queries (q129/q139):
    * mod-1000 node buckets with the sampling rate derived FROM THE DATA
    * (row count -> 1/1, 1/10, 1/100 via a portable arithmetic hash), so
    * graph density stays constant as the scan scales. Both engines
    * compute the identical rate from count(*) — no scale-factor
    * parameter leaks into the query text. */
  private def cooccurrenceEdges(li: DataFrame): DataFrame = {
    val n = li.agg(count(lit(1)).as("__cnt"))
    li.crossJoin(broadcast(n))
      .withColumn("__f", when(col("__cnt") > 300000L, 100L)
        .when(col("__cnt") > 30000L, 10L).otherwise(1L))
      .filter((col("l_orderkey") * 31L + col("l_partkey")) % col("__f") === 0L)
      .select(pmod(col("l_partkey"), lit(1000L)).as("src"),
        pmod(col("l_suppkey"), lit(1000L)).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Order-free integer self-checksum over all-BIGINT output columns
    * (q318/q319 diagnostic): the Validate polynomial rowMix per row,
    * summed mod P across the table, replicated onto every row as
    * `board_ck`. The single-partition window is over the FINAL board
    * (tens of rows), never the data. */
  private def withBoardChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    import graft.operators.Validate
    df.withColumn("__mix", Validate.rowMix(cols.map(c => Validate.enc.long(col(c)))))
      .withColumn("board_ck",
        (sum(col("__mix").cast("decimal(38,0)"))
          .over(Window.partitionBy()) % lit(Validate.P)).cast("long"))
      .drop("__mix")
  }

  /** Fixed evaluation queries for the q295 NDCG board — corpus-vocab
    * terms, one query per operator family so graded relevance (term
    * coverage) spreads over 1..3. Shared verbatim with the oracle. */
  private val NdcgQueries: Seq[(String, Seq[String])] = Seq(
    ("q_join", Seq("join", "merge", "hash")),
    ("q_scan", Seq("scan", "filter", "table")),
    ("q_stream", Seq("stream", "batch", "window")),
    ("q_sort", Seq("sort", "order", "group")))

  /** Crawl-style messy URL synthesis for the q207/q208 canonicalization
    * queries — five spelling families covering every canonical rule:
    * uppercase + www + default port + tracking + unsorted params +
    * fragment; co.uk multi-level suffix; schemeless with a NON-default
    * port and trailing slashes; IP host; a family that collapses to one
    * canonical page across docs. Mirrored verbatim by the oracle. */
  private def synthUrl(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m5 = pmod(docId, lit(5))
    when(m5 === 0, concat(lit("HTTP://WWW.Site"),
        pmod(docId, lit(40)).cast("string"), lit(".Example.COM:80/a/b/"),
        pmod(docId, lit(7)).cast("string"), lit("/?utm_source=x&b=2&a=1#frag")))
      .when(m5 === 1, concat(lit("https://Blog.Site"),
        pmod(docId, lit(40)).cast("string"), lit(".example.CO.UK:443/post/"),
        pmod(docId, lit(9)).cast("string"), lit("?gclid=123")))
      .when(m5 === 2, concat(lit("site"),
        pmod(docId, lit(40)).cast("string"), lit(".example.net:8080/path///")))
      .when(m5 === 3, concat(lit("https://192.168."),
        pmod(docId, lit(9)).cast("string"), lit(".1/metrics?ref=abc&z=9&y=8")))
      .otherwise(concat(lit("HTTPS://www.example.org/?utm_campaign=c"),
        docId.cast("string")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- record linkage (round 10) ----

    // Best fuzzy match per part name among its first-token block peers —
    // the "find my duplicate" linkage view. Jaro–Winkler is a custom
    // codegen'd expression with DuckDB-parity semantics (boost only
    // above jaro 0.7, prefix cap 4); scores compare on the 6dp grid and
    // the argmax tie-breaks by smaller candidate id on both engines.
    "q245_jaro_best_match" -> ((s, dir) => {
      operators.Linkage.bestMatch(t(s, dir, "part"), "p_name", "p_partkey",
        split(col("name"), " ").getItem(0), threshold = 0.85)
    }),

    // Sorted-neighborhood blocking: parts sorted globally by name, each
    // paired with its next 3 neighbors — the classic complement to key
    // blocking (typo-in-the-block-key pairs still sort adjacently).
    // Global rank is the two-pass range-partition + offset scheme, never
    // a single-partition window.
    "q246_sorted_neighborhood" -> ((s, dir) => {
      operators.Linkage.sortedNeighborhood(t(s, dir, "part"), "p_name",
        "p_partkey", w = 3, threshold = 0.9)
    }),

    // Fellegi–Sunter probabilistic linkage over nation-blocked customer
    // pairs: three comparison fields (segment, balance-thousands bucket,
    // balance sign) with driver-side 6dp log2 likelihood-ratio weights,
    // classified link / possible / non-link at ±4. Output is the
    // per-(block, decision) aggregate — bounded regardless of pair
    // count.
    "q247_fellegi_sunter" -> ((s, dir) => {
      import operators.Linkage.FsField
      operators.Linkage.fellegiSunter(t(s, dir, "customer"), "c_custkey",
        col("c_nationkey").cast("long"),
        Seq(
          FsField("seg", col("c_mktsegment"), m = 0.9, u = 0.2),
          FsField("balk", floor(col("c_acctbal") / 1000.0d).cast("long"),
            m = 0.8, u = 0.1),
          FsField("neg", col("c_acctbal") < 0, m = 0.95, u = 0.5)),
        lower = -4.0, upper = 4.0)
    }),

    // Flesch reading-ease readability per document: whitespace words,
    // [.!?]+ sentence runs (floored at 1), vowel-group syllables, the
    // classic coefficient formula on the 6dp grid, banded. Scan-side
    // only — the quality-signal complement of q40/q44.
    "q248_readability" -> ((s, dir) => {
      val f = TextAnalysis.fleschStats(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        f.nWords.as("n_words"), f.nSentences.as("n_sentences"),
        f.nSyllables.as("n_syllables"),
        (f.flesch6.cast("double") / 1e6).as("flesch"), f.band.as("band"))
    }),

    // Mixed-script homoglyph screen: docs with doc_id%3=0 get 'o'/'e'
    // swapped for Cyrillic confusables (both engines apply the same
    // translate), then tokens holding BOTH scripts are counted — the
    // spoof signature that survives NFC normalization (q176) and
    // defeats exact blocklists (q218).
    "q249_homoglyph" -> ((s, dir) => {
      val injected = when(pmod(col("doc_id"), lit(3L)) === 0L,
        translate(col("text"), "oe", "ое")).otherwise(col("text"))
      val ms = TextAnalysis.mixedScriptStats(col("__t"))
      t(s, dir, "documents").withColumn("__t", injected)
        .select(col("doc_id"), ms.nTokens.as("n_tokens"),
          ms.nCyrillic.as("n_cyrillic"), ms.nMixed.as("n_mixed"),
          ms.spoof.as("spoof"))
    }),

    // Luhn mod-10 validation (codegen'd expression) over synthesized
    // 16-digit PAN candidates — the validity gate that separates real
    // card shapes from random digit runs in a PII scan (~10% pass by
    // chance; the oracle replays the checksum digit-by-digit).
    "q250_luhn" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        lpad(((col("doc_id") * lit(2654435761L) + lit(123456789L))
          % lit(10000000000000000L)).cast("string"), 16, "0")
          .as("pan_candidate"))
        .withColumn("luhn_ok",
          graft.expressions.LinkageKernels.luhnValidCol(col("pan_candidate")))
    }),

    // Sample autocorrelation of daily per-type event counts at calendar
    // lags 1..7 — the period detector complementing q189's fixed-period
    // decomposition. Exact integer numerator/denominator per lag (the
    // n²-scaled centered sums), one portable division each.
    "q251_acf" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      operators.Seasonal.acf(daily, maxLag = 7)
    }),

    // Kaplan–Meier product-limit survival over SESSION lifetimes
    // (30-min gap sessions; a session whose last event sits within one
    // gap of the global observation end is right-censored — it may
    // still be open). The estimator q117's naive retention curve cannot
    // express: censored sessions stay in the risk set, add no death.
    // Engine-exact: 6dp integer factors folded with BIGINT div — zero
    // transcendentals, so no libm portability hazard. The HASHED
    // output keys on the exact integer survival_p6 (the derived
    // double is dropped: an integer column cannot diverge under any
    // DuckDB build or float-canonicalization scheme).
    "q252_kaplan_meier" -> ((s, dir) => {
      operators.Survival.kaplanMeier(
        operators.Survival.sessionLifetimes(t(s, dir, "events"), "user_id",
          "ts", "event_id", gapSeconds = 1800L),
        durationCol = "duration_min").drop("survival")
    }),

    // HBOS multivariate outlier screen over orders (price equi-width
    // bin + epoch-day-of-week + priority): per-feature ln(N/binCount)
    // surprisal summed on the 6dp grid, top-100 by (score, key) via
    // sort-limit. Scan + three broadcast joins — no data-sized shuffle.
    "q253_hbos" -> ((s, dir) => {
      operators.Profiler.hbosTopK(t(s, dir, "orders"), "o_orderkey",
        numFeatures = Seq("o_totalprice"),
        catFeatures = Seq(
          ("dow", pmod(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long"), lit(7L))),
          ("prio", col("o_orderpriority"))),
        bins = 20, k = 100)
    }),

    // Pearson standardized residuals for every source×lang cell with a
    // logistic-approx two-sided p, then Benjamini–Hochberg step-up FDR
    // at alpha=0.1 — the multiple-testing control q155's single
    // chi-square can't give. The BH threshold compare is pure integer
    // (p6*m*10 <= 1e6*rank): no float boundary on either engine.
    "q254_bh_fdr" -> ((s, dir) => {
      val tests = operators.Profiler.pearsonResidualTests(
        t(s, dir, "documents"), "source", "lang")
      operators.Profiler.bhAdjust(tests, Seq("r", "c"),
        alphaNum = 1L, alphaDenom = 10L)
        .select(col("r").as("source"), col("c").as("lang"), col("obs"),
          col("expected"), col("z"),
          (col("p6").cast("double") / 1e6).as("p"),
          col("rank"), col("discovery"))
    }),

    // Neyman-optimal stratified allocation over sources (budget 200 by
    // n_chars spread): variance-minimizing counts via exact-integer
    // largest-remainder rounding, then the house md5-order pick inside
    // each stratum. The variance-aware complement of q228's max-min
    // water-fill.
    "q255_neyman" -> ((s, dir) => {
      operators.CorpusMix.neymanAllocate(t(s, dir, "documents"), "source",
        "n_chars", "doc_id", budget = 200L)
    }),

    // 2-D skyline (Pareto frontier) of orders maximizing price cents
    // and order recency: bucket-pruned scan (suffix maxima as literals)
    // before an exact frontier sweep — no global sort of the input.
    "q256_skyline" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        floor(col("o_totalprice") * 100 + lit(0.5d)).cast("long").as("price_c"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"))
      operators.Skyline.skyline2D(o, "price_c", "day")
        .select(col("x").as("price_c"), col("y").as("day"), col("n_rows"))
    }),

    // Adamic–Adar link prediction over the co-occurrence graph (the
    // q129/q139 edge sample — the near-dup graph is all closed cliques,
    // so it has no distance-2 pairs to predict): non-adjacent pairs
    // scored by shared-neighbor rarity (1/ln deg, 9dp integer terms) —
    // shared rare neighbors predict a missing edge, shared hubs don't.
    "q257_adamic_adar" -> ((s, dir) => {
      val und = cooccurrenceEdges(t(s, dir, "lineitem"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      operators.Graphs.adamicAdar(und, "u", "v")
    }),

    // Functional-dependency discovery over orders: four candidate
    // lhs->rhs pairs, each reporting violating-group/row mass — the
    // within-table determinism profile complementing q138's
    // cross-table FK audit.
    "q258_fd_discovery" -> ((s, dir) => {
      operators.Validate.fdDiscovery(t(s, dir, "orders"), Seq(
        ("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderstatus", "o_orderpriority")))
    }),

    // Fano-factor burstiness per event type over hourly counts:
    // var/mean as ONE exact-integer ratio (n·S2 − S²)/(n·S) — ≈1 for
    // Poisson traffic, >1 bursty, <1 metronomic; the per-series
    // complement of q241's per-user gap regularity.
    "q259_burstiness" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type").as("series"), date_trunc("hour", col("ts")).as("hr"))
        .groupBy(col("series"), col("hr")).agg(count(lit(1)).as("v"))
        .groupBy(col("series"))
        .agg(count(lit(1)).as("n_hours"), sum(col("v")).as("__s"),
          sum(col("v") * col("v")).as("__s2"))
        .select(col("series"), col("n_hours"),
          (floor(col("__s").cast("double") / col("n_hours").cast("double")
            * lit(1e6) + lit(0.5d)) / lit(1e6)).as("mean_per_hour"),
          (floor((col("n_hours") * col("__s2") - col("__s") * col("__s"))
            .cast("double") / (col("n_hours") * col("__s")).cast("double")
            * lit(1e6) + lit(0.5d)) / lit(1e6)).as("fano"))
    }),

    // Cramér's V association strength for two categorical pairs — the
    // effect size q155's raw chi-square lacks (chi2 grows with N, V
    // does not). Exact cells, 6dp integer chi2 terms, one sqrt.
    "q260_cramers_v" -> ((s, dir) => {
      operators.Profiler.cramersV(t(s, dir, "orders"),
          "o_orderstatus", "o_orderpriority")
        .unionByName(operators.Profiler.cramersV(t(s, dir, "lineitem"),
          "l_returnflag", "l_linestatus"))
    }),

    // Mutual information between term presence and source — which words
    // identify a source (supervised feature selection; the labeled
    // complement of q87's unsupervised TF-IDF). Doc-level presence
    // counts, present+absent components on the 6dp grid, top-20.
    "q261_mi_terms" -> ((s, dir) => {
      operators.TextIndex.miTermSource(t(s, dir, "documents"), "text",
        "doc_id", "source", k = 20)
    }),

    // Conditional transition entropy per user over consecutive
    // event-type bigrams — how predictable the next action is; the
    // content-side bot screen pairing with q241's timing regularity.
    "q262_transition_entropy" -> ((s, dir) => {
      operators.Paths.transitionEntropy(t(s, dir, "events"), "user_id",
        "ts", "event_id", "event_type")
    }),

    // Jensen–Shannon drift per source vs the corpus — symmetric and
    // bounded (unlike q191's KL), so one threshold works for every
    // group; full group×bucket smoothed grid, 6dp terms.
    "q263_jsd_drift" -> ((s, dir) => {
      operators.Dsir.jsdDrift(t(s, dir, "documents"), "text", "source")
    }),

    // Cross-correlation between event-type pairs at calendar lags
    // -3..3 — the lead–lag detector ("clicks lead purchases") q251's
    // ACF can't see. Exact integer Pearson sums per (pair, lag).
    "q264_ccf" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      operators.Seasonal.ccf(daily, maxLag = 3)
    }),

    // Chao1 species-richness estimate over word 4-gram "species" — how
    // much vocabulary the corpus has NOT yet shown; the asymptote
    // complement of q213's Heaps growth curve.
    "q265_chao1" -> ((s, dir) => {
      operators.TextIndex.chao1(t(s, dir, "documents"), "text", "doc_id",
        n = 4)
    }),

    // Exact ROC AUC of the trained quality model (the q182/q195 model)
    // against the lang=en label — rank-sum with average-rank tie
    // handling, pure integer algebra to one division; the
    // threshold-free discrimination summary completing q195's
    // calibration view.
    "q267_roc_auc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("__y",
        when(col("lang") === "en", 1).otherwise(0))
      val (w, b) = operators.QualityModel.train(labeled, "text", "__y",
        iters = 5, lr = 0.5)
      val scored = operators.QualityModel.score(docs, "text", w, b)
        .select(col("doc_id"),
          floor(col("quality_prob") * lit(1e6) + lit(0.5d)).cast("long")
            .as("s6"))
        .join(labeled.select(col("doc_id"), col("__y")), "doc_id")
      operators.Profiler.rocAuc(scored, "s6", "__y")
    }),

    // LSH band planner: every (bands, rows) split of a 64-hash budget
    // scored by its S-curve at the q31 threshold ±0.1 — the sizing
    // table behind every minhash query's hardcoded (b, r), chosen row
    // = max separation.
    "q268_lsh_plan" -> ((s, dir) => {
      Dedup.lshPlan(t(s, dir, "documents"), sigBudget = 64,
        threshold = 0.35)
    }),

    // BPE merge TRAINING, fully in-plan: the first three merges learned
    // from the corpus word-frequency table (no driver collect, no
    // vocab cap — the scale path q180's driver-side trainer lacks).
    // Pair argmax by (count desc, pair asc); merges applied as a
    // boundary-aware left-to-right fold; both engines replay the exact
    // greedy loop.
    "q266_bpe_train" -> ((s, dir) => {
      operators.Bpe.distributedMerges(t(s, dir, "documents"), "text",
        nMerges = 3)
    }),

    // Poisson bootstrap 95% CI for the mean order price — the
    // distributed bootstrap: every replicate rides one pass via
    // Poisson(1) weights from the md5-uniform hash (no RNG,
    // run-stable), replicate means from exact integer sums, CI bounds
    // as house order statistics over the replicate means.
    "q269_bootstrap_ci" -> ((s, dir) => {
      operators.Profiler.poissonBootstrapMeanCI(t(s, dir, "orders"),
        "o_totalprice", "o_orderkey", reps = 96)
    }),

    // Exponentially time-decayed count/value per event type (half-life
    // 7 days from the global observation end): per-row weights snap to
    // the 6dp grid BEFORE integer summation, so the totals are
    // order-free — the freshness-weighted complement of q50's raw
    // hourly rollup.
    "q270_decayed_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val gmax = ev.agg(max(unix_micros(col("ts"))).as("gmax"))
      ev.crossJoin(broadcast(gmax))
        .withColumn("__w6", floor(exp(lit(-0.6931471805599453d)
          * (col("gmax") - unix_micros(col("ts"))).cast("double")
          / lit(604800000000.0d)) * lit(1e6) + lit(0.5d)).cast("long"))
        .withColumn("__c", floor(col("value") * 100 + lit(0.5d)).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("__w6")).cast("double") / 1e6).as("decayed_count"),
          (sum(col("__w6") * col("__c")).cast("double") / 1e8)
            .as("decayed_value"))
    }),

    // Declarative expectation suite over lineitem: six checks in ONE
    // aggregation pass (null verdicts count as violations), unpivoted
    // to one row per check — the unified data-quality front door over
    // the scattered CHECK/FK point validations (q14, q138).
    "q271_expectations" -> ((s, dir) => {
      operators.Validate.expectationSuite(t(s, dir, "lineitem"), Seq(
        ("qty_in_1_50", col("l_quantity").between(1, 50)),
        ("qty_le_30", col("l_quantity") <= 30),
        ("discount_le_10pct", col("l_discount") <= 0.10),
        ("tax_nonneg", col("l_tax") >= 0),
        ("flag_domain", col("l_returnflag").isin("A", "N", "R")),
        ("price_positive", col("l_extendedprice") > 0)))
    }),

    // CUPED variance-reduced A/B readout: md5-hash arms, pre-period
    // (Jan 1-14) spend as the covariate for the experiment-period
    // metric, pooled theta from exact integer cent sums — the
    // experimentation upgrade over q154's raw comparison.
    "q272_cuped" -> ((s, dir) => {
      val cents = floor(col("value") * 100 + lit(0.5d)).cast("long")
      val perUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("ts") < lit("2024-01-15").cast("timestamp"),
            cents).otherwise(0L)).as("x"),
          sum(when(col("ts") >= lit("2024-01-15").cast("timestamp"),
            cents).otherwise(0L)).as("y"))
        .withColumn("arm", when(pmod(conv(substring(
          md5(col("user_id").cast("string")), 1, 8), 16, 10).cast("long"),
          lit(2L)) === 0L, "A").otherwise("B"))
      operators.Cohorts.cupedAbTest(perUser, "arm")
    }),

    // Exact weighted quartiles: quantity-weighted price cents per
    // return flag — each row counts its weight times; targets are pure
    // integer ceil-division of rational probs (no interpolation, no
    // float boundary). The weighted complement of q144's row quantiles.
    "q273_weighted_quantiles" -> ((s, dir) => {
      operators.Profiler.weightedQuantiles(
        t(s, dir, "lineitem")
          .withColumn("price_c",
            floor(col("l_extendedprice") * 100 + lit(0.5d)).cast("long")),
        "l_returnflag", "price_c", "l_quantity")
    }),

    // TextTiling-style topic-shift segmentation: 20-token windows at
    // stride 10, adjacent-window exact-integer term cosine, boundary
    // below 0.5 — the topic-aware chunker complementing q123's fixed
    // chunks. Per-doc summary only.
    "q274_topic_segments" -> ((s, dir) => {
      operators.TextIndex.topicSegments(t(s, dir, "documents"), "text",
        "doc_id", w = 20, stride = 10, threshold = 0.5)
    }),

    // Siegel REPEATED-median trend — the 50%-breakdown upgrade over
    // q230's Theil–Sen: median slope per point, then median of those
    // medians; same 6dp grid and lower-median conventions.
    "q275_siegel_trend" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      operators.Seasonal.siegelTrend(daily)
    }),

    // t-closeness audit over customer equivalence classes: ordered-EMD
    // between each class's balance-bucket distribution and the corpus,
    // exact cross-multiplied integers — the distribution-level leak
    // q174's k-anonymity/l-diversity cannot see.
    "q276_t_closeness" -> ((s, dir) => {
      operators.Privacy.tClosenessAudit(
        t(s, dir, "customer").withColumn("bal_bucket",
          floor(col("c_acctbal") / 1000.0d).cast("long")),
        Seq("c_mktsegment", "c_nationkey"), "bal_bucket", t = 0.2)
    }),

    // Laplace-mechanism noisy counts per source (epsilon=1): the DP
    // release shape with hash-seeded noise through the exact Laplace
    // inverse CDF — a MECHANISM DEMO (deterministic seed => replayable
    // by the oracle, and therefore not private; swap in a secure RNG
    // to publish).
    "q277_dp_counts" -> ((s, dir) => {
      operators.Privacy.laplaceNoisyCounts(t(s, dir, "documents"),
        "source", epsilon = 1.0, seed = "graft-r10")
    }),

    // Split-conformal prediction sets for the q182 model: calibration
    // quantile of true-label nonconformity (hash split), then per-test
    // prediction sets {1}/{0}/both/empty with empirical coverage — the
    // distribution-free uncertainty readout completing AUC (q267) and
    // calibration (q195).
    "q278_conformal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("__y",
        when(col("lang") === "en", 1).otherwise(0))
      val (w, b) = operators.QualityModel.train(labeled, "text", "__y",
        iters = 5, lr = 0.5)
      operators.QualityModel.conformalSets(labeled, "text", "doc_id", "__y",
        w, b, alpha = 0.1)
    }),

    // Cumulative gains / lift by score decile: how deep down the
    // model-ranked corpus to go to capture X% of the positives.
    // Deciles ride the two-pass global rank (never a one-partition
    // window over data).
    "q279_gains" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("__y",
        when(col("lang") === "en", 1).otherwise(0))
      val (w, b) = operators.QualityModel.train(labeled, "text", "__y",
        iters = 5, lr = 0.5)
      val scored = operators.QualityModel.score(docs, "text", w, b)
        .select(col("doc_id"),
          floor(col("quality_prob") * lit(1e6) + lit(0.5d)).cast("long")
            .as("s6"))
        .join(labeled.select(col("doc_id"), col("__y")), "doc_id")
      operators.Profiler.cumulativeGains(scored, "s6", "__y", "doc_id")
    }),

    // Spearman rank correlation per return flag (quantity vs price
    // cents): average-rank tie algebra held as exact integers,
    // decimal(38) moment sums — the monotone complement of q110's
    // Pearson.
    "q280_spearman" -> ((s, dir) => {
      operators.Profiler.spearman(
        t(s, dir, "lineitem")
          .withColumn("qv", col("l_quantity").cast("long"))
          .withColumn("pv",
            floor(col("l_extendedprice") * 100 + lit(0.5d)).cast("long")),
        "l_returnflag", "qv", "pv")
    }),

    // Mann–Whitney U: are English docs systematically longer than the
    // rest? Exact average-rank/tie-correction algebra, logistic-approx
    // p — the location-shift complement of q237's shape-sensitive KS.
    "q281_mann_whitney" -> ((s, dir) => {
      operators.Profiler.mannWhitney(t(s, dir, "documents"),
        col("lang") === "en", "n_chars")
    }),

    // Subject-level Kaplan–Meier: customer lifetime = days from first
    // to last order, right-censored when the last order sits within 90
    // days of the global observation end (the customer may still be
    // active — the events table can't carry this curve: no user there
    // ever goes quiet ≥ 3 days, so every user-level lifetime censors).
    // The long-horizon complement of q252's session curve; same
    // engine-exact 6dp-integer product-limit estimator, hashed on the
    // integer survival_p6 (derived double dropped, as q252).
    "q282_user_survival" -> ((s, dir) => {
      operators.Survival.kaplanMeier(
        operators.Survival.lifetimes(t(s, dir, "orders"), "o_custkey",
          "o_orderdate", censorDays = 90)).drop("survival")
    }),

    // Model-grade language ID: multinomial Naive Bayes over word
    // unigrams, trained fully in-plan from the labeled corpus (no
    // driver collect, no vocab cap) and graded on the same confusion-
    // matrix board as the q41/q238 stopword heuristic — which this
    // model beats (fewer off-diagonal docs, spec-asserted). 9dp
    // integer log grid, ties to the smallest language.
    "q283_nb_langid" -> ((s, dir) => {
      operators.LangModel.naiveBayesConfusion(t(s, dir, "documents"),
        "doc_id", "text", "lang")
    }),

    // Graph ANN: deterministic k-NN graph (two independent sign-LSH
    // tables for a NAVIGABLE init, 3 NN-descent refine rounds, 16
    // best neighbors per node) + 8-round beam-32 greedy search seeded
    // from the query's own buckets — the NSW-shaped high-recall option
    // the quantization family (q36/q38/q205) lacks. Graded like q164:
    // per-query hits against the exact brute-force top-10; measured
    // recall 1.0 / 0.98 / 0.86 at sf0.001/0.01/0.1 on RANDOM 64-dim
    // embeddings (the no-structure worst case), thresholds pinned TRUE
    // with margin. Probe cost ~40% of corpus here; on real corpora
    // with low intrinsic dimension the same beam explores far less.
    "q284_graph_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      // the exact board is consumed by BOTH the hits semi-join and the
      // per-query groupBy: cut it so the brute-force pass runs ONCE
      // (Catalyst does not dedup repeated subtrees — guide §1.2 pass
      // counting; the frame is queries x k rows, tiny to materialize)
      val exact = operators.Lineage.cut(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
          k = 10).select(col("query_id"), col("vec_id")))
      val g = operators.GraphAnn.knnGraph(e, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, degree = 16, refine = 3)
      val seeds = operators.GraphAnn.lshSeeds(e, qs, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, entries = (0L until 16L).toSeq)
      val ann = operators.GraphAnn.beamTopK(e, qs, g, seeds, "vec_id",
          "embedding", rounds = 8, beamWidth = 32)
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      val hits = exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("graph_hits"))
      exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          array_join(transform(array_sort(collect_list(col("vec_id"))),
            _.cast("string")), "|").as("exact_topk"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("graph_hits", coalesce(col("graph_hits"), lit(0L)))
        // 5 query points — single-row-per-query reduce, not data-sized
        .withColumn("graph_total",
          sum(col("graph_hits")).over(Window.partitionBy()))
        .withColumn("k_total", sum(col("k")).over(Window.partitionBy()))
        .select(col("query_id"), col("k"), col("exact_topk"),
          col("graph_hits"),
          (col("graph_hits").cast("double") / col("k").cast("double")
            >= 0.7d).as("graph_recall_ok"),
          (col("graph_total").cast("double") / col("k_total").cast("double")
            >= 0.8d).as("graph_corpus_ok"))
    }),

    // Compressibility screen: within-doc repeated-bigram mass (the
    // share a dictionary coder would squeeze out — boilerplate and
    // keyword stuffing compress, prose doesn't) as a scan-side quality
    // column; docs above 10% repeated mass are dropped. The
    // oracle-replayable stand-in for the classic zlib-ratio filter.
    "q285_compressibility" -> ((s, dir) => {
      Dedup.compressibility(t(s, dir, "documents"), "text", "doc_id",
        spanN = 2, maxRepeatMass = 0.1)
    }),

    // ECOD tail-probability outliers over orders (price cents × epoch
    // day): per-feature min(left, right) EXACT empirical-CDF tail
    // counts — the parameter-free complement of q253's binned HBOS —
    // 9dp ln(n/tailCount) surprisals summed, top-100 by (score, key).
    "q286_ecod" -> ((s, dir) => {
      operators.Profiler.ecodTopK(t(s, dir, "orders"), "o_orderkey", Seq(
        ("price", floor(col("o_totalprice") * 100 + lit(0.5d))),
        ("day", datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")))), k = 100)
    }),

    // HITS hubs/authorities over the DIRECTED part→supplier graph —
    // the two-sided centrality PageRank's (q106) single score
    // conflates. Engine-exact: 6dp integer scores, per-half-step
    // max-renormalization via BIGINT floor division, 3 iterations.
    "q287_hits" -> ((s, dir) => {
      operators.Graphs.hits(cooccurrenceEdges(t(s, dir, "lineitem")),
        "src", "dst", iters = 3)
    }),

    // Winnowing passage overlap (the MOSS fingerprint scheme): char
    // 16-gram hashes, window-8 minima — any shared run >= 23 chars
    // leaves a shared fingerprint — stop-fingerprints (df > 10)
    // dropped before the pair join, pairs scored by containment.
    // The substring-GRANULAR complement of MinHash whole-doc sim.
    "q288_winnow_overlap" -> ((s, dir) => {
      Dedup.winnowOverlap(t(s, dir, "documents"), "text", "doc_id",
          k = 16, w = 8, maxDf = 10)
        .filter(col("n_shared") >= 3)
    }),

    // RAKE keyword extraction: candidate phrases = maximal non-stopword
    // runs (running-stopword-count phrase ids, the sessionizer idiom),
    // word score = degree/freq as exact 6dp integer division, phrase
    // score = member-word sum, corpus top-25 by (score, phrase).
    "q289_rake_keywords" -> ((s, dir) => {
      operators.TextIndex.rakeKeywords(t(s, dir, "documents"), "text",
        "doc_id", topK = 25)
    }),

    // Benford first-digit audit over extended prices — the classic
    // fabricated-numbers / broken-ETL screen. First digit from the
    // integer-cents STRING (no log10 anywhere), driver-literal 6dp
    // expectations, per-digit 6dp-floored chi² terms so the suite
    // total is an order-free integer sum; Nigrini MAD rides along.
    "q290_benford" -> ((s, dir) => {
      operators.Validate.benfordAudit(t(s, dir, "lineitem"),
        floor(col("l_extendedprice") * 100 + lit(0.5d)))
    }),

    // Pettitt rank changepoint per event-type series: U_t via the
    // antisymmetry identity (prefix sums of rank differences — no
    // pair join), peak = most probable level-shift day, approximate p.
    // The reference-free complement of CUSUM (q190) and KS (q237).
    "q291_pettitt" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      operators.Seasonal.pettittChangepoint(daily)
    }),

    // PPMI collocations: word pairs within ±2 tokens co-occurring far
    // above chance (Church–Hanks association) — multiword-expression
    // discovery for tokenizer/vocab curation. Exact decimal(38,0)
    // ratio sides, one double conversion each, 9dp ln grid, top-30.
    "q292_ppmi" -> ((s, dir) => {
      operators.TextIndex.ppmiCollocations(t(s, dir, "documents"), "text",
        "doc_id", window = 2, minCount = 5L, topK = 30)
    }),

    // Lorenz curve + Gini of the corpus character mass: what share of
    // total characters the smallest k/10 of documents hold, plus the
    // exact rank-identity Gini — measured concentration, the audit
    // behind the q49/q92 source-balance knobs. Pure integer grid
    // algebra, no per-row sort.
    "q293_lorenz_gini" -> ((s, dir) => {
      operators.Profiler.lorenzGini(t(s, dir, "documents"), "n_chars")
    }),

    // Cohen's kappa between the two language-ID systems (q41 stopword
    // heuristic vs q283 Naive Bayes) — the chance-corrected agreement
    // a labeling pipeline reports before trusting silver labels. Exact
    // integer margins in decimal(38,0), one double division.
    "q294_langid_kappa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val h = docs.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("g1"))
      val m = operators.LangModel
        .naiveBayesGuess(docs, "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang_guess").as("g2"))
      operators.Agreement.cohenKappa(h.join(m, Seq("doc_id")), "g1", "g2")
    }),

    // NDCG@10 of the BM25 ranking (the q88 scorer) against graded
    // term-coverage relevance, per query — the ranking-quality board
    // completing the retrieval family (q87/q88/q178/q224). Gains and
    // discounts are exact integers on driver-literal grids.
    "q295_ndcg" -> ((s, dir) => {
      operators.TextIndex.ndcgAtK(t(s, dir, "documents"), "text",
        "doc_id", NdcgQueries, k = 10)
    }),

    // ROLLUP profile: doc counts and char mass at (source, lang),
    // per-source subtotal, and grand-total grains in ONE pass — the
    // multi-grain profiling surface (Spark `rollup` ↔ ANSI GROUP BY
    // ROLLUP); subtotal rows carry a portable grouping id derived
    // from the NULL pattern, sentinel '__all__' labels.
    "q296_rollup_profile" -> ((s, dir) => {
      t(s, dir, "documents").rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_sum"))
        .select(coalesce(col("source"), lit("__all__")).as("source"),
          coalesce(col("lang"), lit("__all__")).as("lang"),
          (when(col("source").isNull, lit(2L)).otherwise(lit(0L))
            + when(col("lang").isNull, lit(1L)).otherwise(lit(0L))).as("gid"),
          col("n_docs"), col("chars_sum"))
    }),

    // Embedding-space drift: per-label centroid direction vs the
    // corpus centroid (6dp cosine of exact integer sum vectors) plus
    // the label's centroid norm — the stratum diagnostic run before
    // trusting per-label mixing weights. Fully relational (no driver
    // centroids, any label cardinality).
    "q297_centroid_cosine" -> ((s, dir) => {
      Similarity.labelCentroidCosine(t(s, dir, "embeddings"),
        "embedding", "label")
    }),

    // First-order Markov chain over per-user event sequences:
    // transition matrix on the 6dp integer grid + stationary
    // distribution by 6 exact power iterations (the q287 HITS
    // discipline) — where user behavior spends its time in the long
    // run, the model-grade complement of the q104 fixed funnel.
    "q298_markov" -> ((s, dir) => {
      operators.Markov.stationary(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", iters = 6)
    }),

    // Confident-learning label-error queue: docs whose NB posterior
    // (the q283 model) prefers a DIFFERENT language than their given
    // label, top-50 by the exact 9dp log-posterior margin — "which
    // silver labels to re-annotate first", the curation op the
    // confusion boards (q238/q283) motivate.
    "q299_label_suspects" -> ((s, dir) => {
      operators.LangModel.labelSuspects(t(s, dir, "documents"),
        "doc_id", "text", "lang", k = 50)
    }),

    // Kleinberg two-state burst labeling per event-type day series —
    // every day tagged base/burst by the optimal Viterbi path (enter
    // cost γ=1.0, burst rate 3×μ), the full-sequence complement of
    // the single-change-point screens (q190 CUSUM, q291 Pettitt).
    // Exact integer DP on the 9dp emission grid; the oracle replays
    // forward and backtrack as recursive CTEs.
    "q300_burst" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      operators.Burst.kleinberg(daily)
    }),

    // Manifest snapshot diff: publish v1, deleteWhere the urgent rows
    // (v2), appendNew a +10M-keyed low-priority slab (v3), then audit
    // v1→v3 row-level with ManifestTable.snapshotDiff — added rows are
    // exactly the appended slab, removed exactly the deleted rows,
    // everything carried through the file rewrites cancels. Aggregated
    // per (anio, change) so the oracle recomputes from raw orders.
    "q301_snapshot_diff" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-manifest-q301")
      val root = s"$tmp/tables"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("cents"),
          year(col("o_orderdate")).cast("long").as("anio"))
      etl.ManifestTable.publish(s, root, Map("orders" -> orders),
        Map("orders" -> "anio"))
      etl.ManifestTable.deleteWhere(s, root, "orders",
        col("priority") === "1-URGENT", Some("anio"))
      val appended = etl.ManifestTable.appendNew(s, root, "orders",
        orders.filter(col("priority") === "5-LOW")
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("priority"), (col("cents") + 1L).as("cents"), col("anio")),
        key = Seq("o_orderkey"), statsCol = Some("anio"))
      require(appended > 0L, "append slab came back empty")
      val out = etl.ManifestTable.snapshotDiff(s, root, "orders", 1L, 3L)
        .groupBy(col("anio"), col("change"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        // materialize before tearing the root down (the q162 idiom)
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // DBSCAN over the embedding corpus (cosine ε = 0.3, minPts = 4):
    // density clusters + explicit noise verdicts, candidates from the
    // q284 two-table sign-LSH bucketing rescored exact, clusters =
    // star-contraction CC of the core–core graph, border assigned to
    // the smallest core neighbor's cluster. The no-k complement of the
    // IVF/SemDeDup centroid family; oracle replays buckets, cosines,
    // degrees, a recursive-CTE closure, and the border rule.
    "q302_dbscan" -> ((s, dir) => {
      operators.Dbscan.dbscan(t(s, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, planes = 3, tables = 2, tau = 0.3,
        minPts = 4)
    }),

    // Frequent consecutive event trigrams across user streams —
    // sequential pattern mining, the "which 3-step behaviors actually
    // occur" discovery pass behind the hard-coded q104 funnel and the
    // q298 first-order chain. Occurrence totals + distinct-user
    // support, top-25 by (occurrences, pattern), sort+limit.
    "q303_frequent_sequences" -> ((s, dir) => {
      operators.Funnel.frequentSequences(t(s, dir, "events"), "user_id",
        "ts", "event_id", "event_type", n = 3, topK = 25)
    }),

    // Custom whole-operator top-k-per-key (TopKPerKeyNode -> Strategy
    // -> heap-based SparkPlan, the tier-(c) extension path): top-3
    // revenue parts per supplier in ONE pass with bounded per-key
    // heaps — O(n log k), no sort, no spill — where the window form
    // full-sorts every partition. Plan-asserted sortless in
    // TopKPerKeySpec; the oracle replays the window form (identical
    // rows under the total (revenue desc, partkey) order).
    "q304_topk_per_key" -> ((s, dir) => {
      // per-row cents then exact integer sums (the q219 idiom) — a
      // round(sum(double), 2) here flips cent boundaries between
      // engines when group sums associate differently
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100d + lit(0.5d)).cast("long")).as("revenue_cents"))
      operators.TopK.perKey(rev, Seq("l_suppkey"),
        Seq(("revenue_cents", false), ("l_partkey", true)), k = 3)
    }),

    // The q304 heap operator arriving through CATALYST instead of the
    // API: user code writes the stock row_number-filter idiom, the
    // opt-in TopKRewriteRule (spark.graft.topk.rewrite) plants
    // TopKPerKeyNode under the window, and the window's sort runs
    // over <= 2 rows per supplier. Runs on a THROWAWAY newSession()
    // so the conf toggles can never leak into a query planned
    // concurrently on the shared session; windowGroupLimitThreshold=0
    // keeps Spark's own InferWindowGroupLimit out of the way (the
    // rule bails out where the built-in would cover the bound).
    // Materialized eagerly while the confs are on (the q219
    // localCheckpoint idiom); identical rows to the plain window
    // plan, which IS the oracle.
    "q305_topk_rewrite" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.graft.topk.rewrite", "true")
      s.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "0")
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("rn").cast("long").as("rn"))
        .localCheckpoint()
    }),

    // Custom Catalyst GENERATOR (UDTF): `shingle_rows(text, 2)` emits
    // one (pos, gram) row per window, streamed — no per-document gram
    // array is ever materialized (the long-tail-document safety the
    // explode(shingles(...)) form lacks). Exercised through SQL
    // (LATERAL VIEW, the injected function) into a bigram posting
    // board: occurrences + doc frequency, top-20.
    "q306_shingle_generator" -> ((s, dir) => Engine.sql(s, dir,
      """SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS df
        |FROM documents
        |LATERAL VIEW shingle_rows(text, 2) t AS pos, gram
        |GROUP BY gram
        |ORDER BY n DESC, gram ASC
        |LIMIT 20""".stripMargin)),

    // Two-group log-rank test: do BUILDING-segment customers retire
    // (go order-quiet) on the same curve as everyone else? The
    // hypothesis test completing the K-M family (q252/q282): pooled
    // risk sets on the shared duration grid, hypergeometric
    // expectation/variance per event time on the 9dp grid (one fixed
    // IEEE sequence each), chi2 on 1 df as a single rounded division.
    "q308_logrank" -> ((s, dir) => {
      val lt = operators.Survival.lifetimes(t(s, dir, "orders"),
        "o_custkey", "o_orderdate", censorDays = 90)
      val seg = t(s, dir, "customer").select(col("c_custkey").as("subject"),
        (col("c_mktsegment") === "BUILDING").as("grp"))
      operators.Survival.logRank(lt.join(seg, Seq("subject")), "grp")
    }),

    // Pseudo-relevance feedback (Rocchio): BM25 top-5 docs for the
    // seed query feed back their 3 strongest non-query terms (4dp
    // tf×idf grid), and the expanded query re-ranks — the classical
    // recall-repair loop closing the retrieval family
    // (q87/q88/q178/q224/q295). Expansion term set is computed
    // in-plan and applied via broadcast semi-joins.
    "q309_prf_expand" -> ((s, dir) => {
      operators.TextIndex.prfExpandedTopK(t(s, dir, "documents"), "text",
        "doc_id", Seq("spark", "stream"), fbDocs = 5, fbTerms = 3, k = 10)
    }),

    // Personalized PageRank from seed nodes {0,1,2} of the q106
    // co-occurrence graph: restart and dangling mass return to the
    // seeds, so ranks measure importance RELATIVE to the seed set
    // (seed-expansion / related-item discovery) and unreachable nodes
    // stay exactly 0. Same 1e-6 grid + unrolled-CTE oracle as q106.
    "q310_ppr" -> ((s, dir) => {
      val e = t(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(100L)).as("src"),
        pmod(col("l_suppkey"), lit(100L)).as("dst"))
        .filter(col("src") =!= col("dst"))
      operators.PageRank.personalized(e, seeds = Seq(0L, 1L, 2L),
        iters = 5, damping = 0.85)
    }),

    // Persisted + LAYERED graph-ANN (the persisted IVF contract for the
    // graph family): graphWriteVersioned commits the full k-NN edge list
    // AND a deterministic sampled upper layer (id % 4 == 0, HNSW-style
    // two-level hierarchy) in one manifest commit; the search is a
    // cheap beam over the sparse upper graph first (localizes every
    // query from 4 fixed entries), then the full-layer beam SEEDED by
    // those per-query-adapted entry points + LSH bucket mates — which
    // is why 3 full rounds here match 8 blind rounds in q284. Graded
    // on the q284 recall board (thresholds 0.7/0.9 — TIGHTER than
    // q284's 0.7/0.8). The oracle replays build and both beam phases.
    "q311_graph_ann_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      // the exact board is consumed by BOTH the hits semi-join and the
      // per-query groupBy: cut it so the brute-force pass runs ONCE
      // (Catalyst does not dedup repeated subtrees — guide §1.2 pass
      // counting; the frame is queries x k rows, tiny to materialize)
      val exact = operators.Lineage.cut(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
          k = 10).select(col("query_id"), col("vec_id")))
      val root = java.nio.file.Files.createTempDirectory("graft-gann-idx")
        .toString + "/g"
      operators.GraphAnn.graphWriteVersioned(e, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, degree = 16, refine = 1,
        root = root, upperMod = 4, upperDegree = 8, upperRefine = 0)
      val ann = operators.GraphAnn.layeredTopKVersioned(s, root, e, qs,
          "vec_id", "embedding", dim = 64, planes = 4, tables = 2,
          entries = Seq(0L, 4L, 8L, 12L), upperRounds = 2, upperWidth = 16,
          rounds = 3, beamWidth = 48)
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      val hits = exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("index_hits"))
      exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          array_join(transform(array_sort(collect_list(col("vec_id"))),
            _.cast("string")), "|").as("exact_topk"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("index_hits", coalesce(col("index_hits"), lit(0L)))
        // 5 query points — single-row-per-query reduce, not data-sized
        .withColumn("idx_total",
          sum(col("index_hits")).over(Window.partitionBy()))
        .withColumn("k_total", sum(col("k")).over(Window.partitionBy()))
        .select(col("query_id"), col("k"), col("exact_topk"),
          col("index_hits"),
          (col("index_hits").cast("double") / col("k").cast("double")
            >= 0.7d).as("layer_recall_ok"),
          (col("idx_total").cast("double") / col("k_total").cast("double")
            >= 0.9d).as("layer_corpus_ok"))
    }),

    // Short-text language ID: the q283 multinomial NB retrained on
    // overlapping char 3..5-grams (Cavnar–Trenkle profiles as NB) over
    // a tweet-length regime (every doc truncated to 60 chars). The
    // word-unigram grid starves there — most words unseen per
    // language, zh unsegmentable — while char grams keep corpus-wide
    // support: 96 vs 260 misclassified on this board, spec-asserted.
    // Same 9dp grid, same relational no-vocab-cap model.
    "q312_char_langid" -> ((s, dir) => {
      val short = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 60).as("text"))
      operators.LangModel.charNaiveBayesConfusion(short, "doc_id", "text",
        "lang")
    }),

    // Unigram-LM subword tokenizer training (the SentencePiece shape,
    // Kudo 2018) — the prune-down complement of bottom-up BPE
    // (q180/q266): substring seed vocab, two EM rounds of
    // forward/backward integer Viterbi DP over the distinct-word
    // table (one fold expression per word, no per-position joins),
    // on-optimal-path expected counts, 9dp re-smoothing, top-200
    // multi-char prune with an always-kept single-char floor. The
    // oracle replays seed, both DPs (unrolled per-level CTEs), the
    // path-membership counts and every prune round.
    "q313_unigram_lm" -> ((s, dir) => {
      operators.UnigramLm.emTrain(t(s, dir, "documents"), "text",
        iters = 2, maxPieceLen = 4, maxWordLen = 10, seedK = 300,
        keepK = 200)
    }),

    // WEIGHTED PageRank over the q106 co-occurrence graph with edge
    // weight = co-occurrence COUNT (how many lineitems link the pair)
    // — the rank the unweighted walk throws away: a pair linked by 50
    // rows now pulls 50x the mass of a once-linked pair. Same integer
    // discipline as q106 with the per-edge share straight on the
    // 1e-12 grid (decimal(38,0) product, HUGEINT in the oracle).
    "q314_weighted_pagerank" -> ((s, dir) => {
      val e = t(s, dir, "lineitem").select(
          pmod(col("l_partkey"), lit(100L)).as("src"),
          pmod(col("l_suppkey"), lit(100L)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      operators.PageRank.runWeighted(e, "w", iters = 5, damping = 0.85)
    }),

    // WEIGHTED label propagation over the q221 near-dup similarity
    // graph, votes weighted by the 1e-6-snapped jaccard — a
    // 0.9-duplicate neighbor pulls ~2.6x a 0.35 one, the structure
    // the unweighted vote discards. Same deterministic
    // (weight desc, label asc) argmax, 3 unrolled rounds.
    "q315_weighted_lpa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35)
        .withColumn("w6",
          floor(col("jaccard") * lit(1e6) + lit(0.5d)).cast("long"))
      operators.Graphs.weightedLabelPropagation(pairs, "id_a", "id_b",
        "w6", d, "doc_id", iters = 3)
    }),

    // Token-budget accounting under the TRAINED q313 unigram
    // tokenizer: the per-word-length compression profile of the
    // canonical (10-char-truncated, the training contract) vocabulary
    // — pieces per word TYPE and per word OCCURRENCE, the number a
    // pipeline multiplies into its token-budget forecasts. The
    // trained vocab is a bounded driver literal (<= 236 pieces, the
    // k-means-centroid collect discipline); encoding is the codegen'd
    // Viterbi expression; the oracle replays training PLUS the encode
    // DP with its min-split backtrace per word.
    "q316_tokenizer_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = operators.UnigramLm.emTrain(docs, "text", iters = 2,
          maxPieceLen = 4, maxWordLen = 10, seedK = 300, keepK = 200)
        .select(col("piece"), col("lp9")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val words = operators.Bpe.wordCounts(docs, "text")
        .select(substring(col("word"), 1, 10).as("w"), col("cnt").as("f"))
        .groupBy(col("w")).agg(sum(col("f")).as("f"))
      words
        .withColumn("toks", operators.UnigramLm.encode(col("w"), vocab))
        .withColumn("np", (size(col("toks")) - 1).cast("long"))
        .groupBy(length(col("w")).cast("long").as("wl"))
        .agg(count(lit(1)).as("n_types"), sum(col("f")).as("n_occ"),
          sum(col("np")).as("pieces_types"),
          sum(col("np") * col("f")).as("pieces_occ"))
        .withColumn("pieces_per_type6",
          expr("(pieces_types * 1000000L) div n_types"))
        .withColumn("pieces_per_occ6",
          expr("(pieces_occ * 1000000L) div n_occ"))
    }),

    // Incremental ANN-index maintenance: the q311 index built WITHOUT
    // vec_ids 5..24, then those 20 vectors inserted via
    // graphAppendVersioned (beam-searched neighborhoods + reverse-edge
    // re-rank — never a rebuild; 20 of 480 appended stays below the 0.5
    // upper-rebuild bar), then the probes searched against the UPDATED
    // persisted index. The board adds delta accounting: of each probe's exact
    // top-10 that live in the inserted batch, how many the post-append
    // search finds — proof the insertion made new nodes discoverable,
    // not just stored. Oracle replays base build, insertion and the
    // layered search end to end.
    "q317_graph_ann_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val isDelta = col("vec_id") >= 5 && col("vec_id") < 25
      val base = e.filter(!isDelta)
      val delta = e.filter(isDelta)
      val qs = e.filter(col("vec_id") < 5)
      val root = java.nio.file.Files.createTempDirectory("graft-gann-app")
        .toString + "/g"
      operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, degree = 16, refine = 1,
        root = root, upperMod = 4, upperDegree = 8, upperRefine = 0)
      operators.GraphAnn.graphAppendVersioned(s, root, base, delta,
        "vec_id", "embedding", rounds = 2, beamWidth = 32,
        entries = Seq(0L, 4L, 28L, 32L))
      val ann = operators.GraphAnn.layeredTopKVersioned(s, root, e, qs,
          "vec_id", "embedding", dim = 64, planes = 4, tables = 2,
          entries = Seq(0L, 4L, 28L, 32L), upperRounds = 2, upperWidth = 16,
          rounds = 3, beamWidth = 48)
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      // the exact board is consumed by BOTH the hits semi-join and the
      // per-query groupBy: cut it so the brute-force pass runs ONCE
      // (Catalyst does not dedup repeated subtrees — guide §1.2 pass
      // counting; the frame is queries x k rows, tiny to materialize)
      val exact = operators.Lineage.cut(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
          k = 10).select(col("query_id"), col("vec_id")))
      val hits = exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
      val board = exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(when(col("vec_id") >= 5 && col("vec_id") < 25, 1L)
            .otherwise(0L)).as("delta_exact"))
      val found = hits.groupBy(col("query_id"))
        .agg(count(lit(1)).as("index_hits"),
          sum(when(col("vec_id") >= 5 && col("vec_id") < 25, 1L)
            .otherwise(0L)).as("delta_found"))
      board.join(found, Seq("query_id"), "left")
        .select(col("query_id"), col("k"),
          coalesce(col("index_hits"), lit(0L)).as("index_hits"),
          col("delta_exact"),
          coalesce(col("delta_found"), lit(0L)).as("delta_found"),
          (coalesce(col("index_hits"), lit(0L)).cast("double")
            / col("k").cast("double") >= 0.7d).as("recall_ok"))
    }),

    // HARNESS-INTERACTION DIAGNOSTIC for the three-round q252/q282
    // hash-only red (rows/schema green, value-level DuckDB compare
    // green locally — see ROUND13.md): the IDENTICAL all-integer
    // bodies re-registered under FRESH names, to falsify per-name
    // stale state in the driver's compare, PLUS an order-free integer
    // self-checksum column (`board_ck`: the q120 Validate polynomial
    // over the four BIGINT output columns, summed mod 2^31-1,
    // replicated on every row) computed identically by the oracle —
    // so any future mismatch localizes to values (board_ck differs)
    // vs hash canonicalization (board_ck equal, hash red).
    "q318_kaplan_meier_v2" -> ((s, dir) => {
      val km = operators.Survival.kaplanMeier(
        operators.Survival.sessionLifetimes(t(s, dir, "events"), "user_id",
          "ts", "event_id", gapSeconds = 1800L),
        durationCol = "duration_min").drop("survival")
      withBoardChecksum(km, Seq("t_days", "n_risk", "n_events", "survival_p6"))
    }),

    // q282's body verbatim under a fresh name + board_ck (see q318).
    "q319_user_survival_v2" -> ((s, dir) => {
      val km = operators.Survival.kaplanMeier(
        operators.Survival.lifetimes(t(s, dir, "orders"), "o_custkey",
          "o_orderdate", censorDays = 90)).drop("survival")
      withBoardChecksum(km, Seq("t_days", "n_risk", "n_events", "survival_p6"))
    }),

    // Incremental IVF-index maintenance (the q317 story for the
    // quantization family): the q38 index built WITHOUT vec_ids 5..24,
    // then those 20 vectors inserted via ivfAppendVersioned — assigned
    // to the EXISTING centroids (no re-train), committed as new files
    // only — then the probes searched against the updated persisted
    // index through the file-skipping path.
    // Assignment is per-vector, so the oracle replays it in one pass
    // over base ∪ delta under the base-corpus centroids; search output
    // is hash-checked end to end (delta vectors must surface in the
    // top-10 wherever they truly belong).
    "q320_ivf_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val isDelta = col("vec_id") >= 5 && col("vec_id") < 25
      val root = java.nio.file.Files.createTempDirectory("graft-ivf-app")
        .toString + "/ivf"
      val cents = Similarity.ivfWriteVersioned(e.filter(!isDelta), "vec_id",
        "embedding", root, nlist = 16)
      Similarity.ivfAppendVersioned(e.filter(isDelta), "vec_id", "embedding",
        root, cents)
      Similarity.ivfTopKVersioned(s, root, cents,
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
        nprobe = 4)
    }),

    // Community-quality gate for the LPA family: the q315 weighted-LPA
    // partition graded by weighted modularity — per community the exact
    // integer (csize, w_in, deg_sum) and the global 6dp Q replicated
    // per row. The one number that says whether a partition is
    // structure or noise (Q near 0 = no better than random). Oracle
    // replays the q315 pipeline then the modularity aggregations on
    // HUGEINT.
    "q322_modularity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35)
        .withColumn("w6",
          floor(col("jaccard") * lit(1e6) + lit(0.5d)).cast("long"))
      val labels = operators.Graphs.weightedLabelPropagation(pairs,
        "id_a", "id_b", "w6", d, "doc_id", iters = 3)
      operators.Graphs.modularity(pairs, "id_a", "id_b", col("w6"),
        labels, "node", "community")
    }),

    // Span-level benchmark decontamination: the q45 doc-level flag
    // upgraded to a SCRUB — only the token positions covered by a
    // 10-token window occurring verbatim in the eval split (doc_id %
    // 20 == 0) are removed from each training doc, ALL occurrences
    // (no first-copy survivor: eval text must not exist in training
    // data). Same split as q45, same reassembly as q188, boundary
    // semantics of q321. Oracle replays windows (gram strings), the
    // eval membership cover and the rebuild.
    "q323_scrub_eval_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.scrubEvalSpans(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
        spanN = 10)
    }),

    // IVF index DELETE — the missing quarter of the index lifecycle
    // (q38 write / q320 append / delete / vacuum): a soft delete of
    // vec_id % 7 == 3 from a full-corpus index — the ids join the
    // index's tombstone table in one commit, O(batch), no index file
    // rewritten, and the search anti-joins them — then the q320 search
    // shape; the oracle replays assignment and search minus the
    // deleted rows.
    "q324_ivf_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft-ivf-del")
        .toString + "/ivf"
      val cents = Similarity.ivfWriteVersioned(e, "vec_id", "embedding",
        root, nlist = 16)
      Similarity.ivfSoftDeleteVersioned(s, root,
        e.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      Similarity.ivfTopKVersioned(s, root, cents,
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
        nprobe = 4)
    }),

    // Graph-ANN index DELETE (the HNSW soft-delete discipline):
    // tombstoned nodes keep ROUTING the beam — their edges stay in
    // both layers, cutting them would disconnect regions — but can
    // never be RETURNED: the final beam is anti-joined against the
    // tombstone table and re-ranked, so rank <= 10 still yields 10
    // LIVE results. Soft-deletes vec_id % 5 == 2 (including upper entry
    // 12 and query 2's own id — both still route). Build uses the
    // cheap refine=0 profile: the grade here is delete semantics, not
    // recall (q311 holds the recall gates). Oracle replays build, both
    // beam phases, and the live re-rank.
    "q325_graph_ann_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft-gann-del")
        .toString + "/g"
      operators.GraphAnn.graphWriteVersioned(e, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, degree = 16, refine = 0,
        root = root, upperMod = 4, upperDegree = 8, upperRefine = 0)
      operators.GraphAnn.graphDeleteVersioned(s, root,
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")))
      operators.GraphAnn.layeredTopKVersioned(s, root, e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", dim = 64,
          planes = 4, tables = 2, entries = Seq(0L, 4L, 8L, 12L),
          upperRounds = 1, upperWidth = 16, rounds = 2, beamWidth = 32)
        .filter(col("rank") <= 10)
    }),

    // MMR diversified retrieval (Carbonell & Goldstein 1998): greedy
    // top-5 from the 20 most relevant candidates, each pick maximizing
    // λ·rel − (1−λ)·max-sim-to-picked on the exact integer grid
    // (λ = 0.7) — the re-rank that stops a near-duplicate cluster from
    // monopolizing a result page. Oracle unrolls the 5 greedy rounds.
    "q326_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.mmrTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, lambda6 = 700000L, candK = 20)
    }),

    // Dedup-index LIFECYCLE (the q81 index under maintenance): index
    // the historical 80%, APPEND the %10==1 batch (skew cap maintained
    // across appends), FORGET doc_id % 10 == 2 (right-to-be-forgotten —
    // a removed document must stop generating near-dup candidates
    // immediately, not at the next re-index), then dedup the %10==0
    // batch against the maintained index (forget class %10==2 is
    // chosen to intersect the q81 pair set, so the forget path is
    // actually graded, not vacuous). Oracle = exact cross Jaccard
    // between the batch and the LIVE indexed set (the q81
    // empirical-recall caveat, minus the forgotten ids).
    "q327_dedup_index_lifecycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m10 = col("doc_id") % 10
      val idxTmp = java.nio.file.Files.createTempDirectory("graft-mh-lc")
      val root = idxTmp.resolve("index").toString
      Dedup.minhashIndexWriteVersioned(docs.filter(m10 =!= 0 && m10 =!= 1),
        "text", "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
      Dedup.minhashIndexAppendVersioned(s, docs.filter(m10 === 1), "text",
        "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
      Dedup.minhashIndexForgetVersioned(s, root,
        docs.filter(m10 === 2).select(col("doc_id").as("id")))
      val out = Dedup.incrementalPairsVersioned(s, docs.filter(m10 === 0),
          docs.filter(m10 =!= 0), "text", "doc_id", root,
          bands = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.35)
        .localCheckpoint() // materialize, then drop the on-disk index
      etl.IncrementalLoad.deleteRecursively(idxTmp)
      out
    }),

    // VERSIONED dedup index (the q327 lifecycle on ManifestTable
    // commits — the last index family to match IVF q332 / graph q334):
    // write over m10∉{0,1}, append m10=1, PIN that version, then forget
    // m10=2 as a later commit. The pairs query runs pinned at the
    // pre-forget version, so the m10=2 matches MUST still appear — the
    // oracle is q327's WITHOUT the deletion exclusion, and any snapshot
    // isolation leak (the pin observing the later delete) loses those
    // rows and hash-mismatches. Snapshot isolation itself is the thing
    // under oracle grade, the q334 discipline.
    "q335_dedup_index_versioned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m10 = col("doc_id") % 10
      val tmp = java.nio.file.Files.createTempDirectory("graft-mh-ver")
      val root = tmp.resolve("mh").toString
      Dedup.minhashIndexWriteVersioned(docs.filter(m10 =!= 0 && m10 =!= 1),
        "text", "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
      Dedup.minhashIndexAppendVersioned(s, docs.filter(m10 === 1), "text",
        "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
      val vPin = etl.ManifestTable.current(s, root).get.version
      Dedup.minhashIndexDeleteVersioned(s, root, col("id") % 10 === 2)
      val out = Dedup.incrementalPairsVersioned(s, docs.filter(m10 === 0),
          docs.filter(m10 =!= 0), "text", "doc_id", root,
          bands = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.35,
          version = Some(vPin))
        .localCheckpoint() // materialize, then drop the on-disk index
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // Storage-level MERGE (upsert) on a ManifestTable — the Delta/
    // Iceberg MERGE INTO shape: publish customers with custkey%3!=0,
    // then merge a source of custkey%2==0 rows carrying acctbal+1000 —
    // matched rows replaced, unmatched inserted, only files holding a
    // matched key rewritten (file-granular copy-on-write, one atomic
    // commit). The oracle is the equivalent CASE over the union.
    "q337_manifest_merge" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-merge")
      val root = tmp.resolve("t").toString
      etl.ManifestTable.publish(s, root,
        Map("customers" -> c.filter(col("c_custkey") % 3 =!= 0)),
        statsCols = Map("customers" -> "c_custkey"))
      val src = c.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 1000.0d, 2))
      etl.ManifestTable.mergeInto(s, root, "customers", src,
        key = Seq("c_custkey"), statsCol = Some("c_custkey"))
      val out = etl.ManifestTable.read(s, root, "customers")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // Exactly-once CDC apply (the streaming descendant of main.py:45-69
    // generalized to updates/deletes): two change batches — inserts of
    // orderkey%4!=0, then upserts of %2==0 at price+10 mixed with
    // deletes of %8==1 — applied through transactionalMerge (upserts +
    // deletes + watermark in ONE commit, file-granular copy-on-write).
    // The oracle replays the same history as CASE/WHERE over orders.
    "q338_cdc_apply" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdc")
      val root = tmp.resolve("t").toString
      val b0 = o.filter(col("o_orderkey") % 4 =!= 0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      val up1 = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price", round(col("price") + 10.0d, 2))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
      val del1 = o.filter(col("o_orderkey") % 8 === 1)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      streaming.CdcApply.applyBatch(b0, root, "orders", Seq("o_orderkey"),
        Seq("seq"), "op", batchId = 0L, statsCol = Some("o_orderkey"))
      streaming.CdcApply.applyBatch(up1.unionByName(del1), root, "orders",
        Seq("o_orderkey"), Seq("seq"), "op", batchId = 1L,
        statsCol = Some("o_orderkey"))
      val out = etl.ManifestTable.read(s, root, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("price"), 2).as("price"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // q338 with the maintenance cadences FIRING (compactEvery=1 →
    // batch 1 compacts the table after its merge; compactLogEvery=1
    // prunes the commit log): graded under q338's oracle VERBATIM, so
    // any way compaction or log pruning could perturb the applied
    // state hash-mismatches — maintenance-never-changes-results under
    // oracle grade, the q334 discipline applied to the CDC path.
    "q339_cdc_compacted" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-cp")
      val root = tmp.resolve("t").toString
      val b0 = o.filter(col("o_orderkey") % 4 =!= 0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      val up1 = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price", round(col("price") + 10.0d, 2))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
      val del1 = o.filter(col("o_orderkey") % 8 === 1)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      streaming.CdcApply.applyBatch(b0, root, "orders", Seq("o_orderkey"),
        Seq("seq"), "op", batchId = 0L, statsCol = Some("o_orderkey"),
        compactEvery = 1, compactLogEvery = 1, keepVersions = 1)
      streaming.CdcApply.applyBatch(up1.unionByName(del1), root, "orders",
        Seq("o_orderkey"), Seq("seq"), "op", batchId = 1L,
        statsCol = Some("o_orderkey"),
        compactEvery = 1, compactLogEvery = 1, keepVersions = 1)
      val out = etl.ManifestTable.read(s, root, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("price"), 2).as("price"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // BOUNDED PURGE on a CDC table with SECONDARY stats (q338's history
    // + a retention-style range delete): the table clusters on
    // o_custkey but every file also records its o_orderkey range
    // (extraStatsCols), so the purge's BETWEEN conjunct range-prunes
    // the discovery scan through the secondary group. The oracle is
    // q338's CASE/WHERE with the purge range excluded — any file the
    // narrowing wrongly skipped would leave purged rows behind and
    // hash-mismatch.
    // DATE-bounded retention purge (the q343 shape on a real DATE
    // column): publish orders date-clustered — per-file stats are now
    // CANONICAL epoch-day (a date→long cast does not exist, so before
    // v3 a date-clustered table recorded no usable range at all) — then
    // deleteWhere under a DATE literal, whose implied range canonicalizes
    // the same way, so discovery scans only the files the retention
    // window can touch. The oracle replays the surviving rows exactly.
    "q344_date_retention_purge" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        round(col("o_totalprice"), 2).as("price"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-date-purge")
      val root = tmp.resolve("t").toString
      etl.ManifestTable.publish(s, root,
        Map("o" -> o.repartitionByRange(8, col("odate"))),
        statsCols = Map("o" -> "odate"))
      etl.ManifestTable.deleteWhere(s, root, "o",
        col("odate") < lit(java.sql.Date.valueOf("1994-06-01")),
        statsCol = Some("odate"))
      val out = etl.ManifestTable.read(s, root, "o")
        .select(col("o_orderkey"), col("odate").cast("string").as("odate"),
          round(col("price"), 2).as("price"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // TUNED pipeline END-TO-END (the q340 chooser driving a real run):
    // measure the recall board on the graded sample, pick the cheapest
    // qualifying config, then quality -> exact dedup -> CHOSEN-config
    // near-dup -> per-source cap -> PII scrub over the corpus in one
    // call. The oracle replays the board, the selection rule, AND the
    // banded candidate join + exact-Jaccard verify + min-id clustering
    // under whichever config the board picked — a wrong choice, a
    // candidate-set drift, or a survivor-rule slip all hash-mismatch.
    // Z-ORDER box delete: orders publish clustered along the Morton
    // curve of (o_custkey, o_orderkey) with per-file stats recorded on
    // BOTH dimensions, then deleteWhere under a conjunction bounding
    // both — the multi-column range narrowing intersects the two
    // recorded ranges, so discovery scans only the files the 2-D box
    // can touch (Round18OpsSpec counts them; a 1-D clustering scans
    // ~4x more for the same box). The oracle replays the survivors —
    // a file wrongly skipped by the narrowing leaves purged rows
    // behind and hash-mismatches.
    "q346_zorder_box_delete" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-zorder")
      val root = tmp.resolve("t").toString
      etl.ManifestTable.publish(s, root,
        Map("o" -> operators.ZOrder.cluster(o,
          Seq("o_custkey", "o_orderkey"), 32)),
        statsCols = Map("o" -> "o_custkey"),
        extraStatsCols = Map("o" -> Seq("o_orderkey")))
      etl.ManifestTable.deleteWhere(s, root, "o",
        col("o_custkey").between(lit(300L), lit(600L)) &&
          col("o_orderkey").between(lit(10000L), lit(40000L)),
        statsCol = Some("o_custkey"))
      val out = etl.ManifestTable.read(s, root, "o")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("price"), 2).as("price"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    "q345_tuned_pipeline" -> ((s, dir) => {
      operators.CorpusPipeline.prepareTuned(t(s, dir, "documents"),
        gradedNearDupCorpus(s, dir), "text", "doc_id", "source",
        recallFloorP6 = 950000L, minTokens = 10, maxTopShare = 0.2,
        perSourceCap = 50, shingleN = 3, nearDupThreshold = 0.5,
        configs = RecallBoardConfigs)
        .select(col("doc_id"), col("source"),
          length(col("clean_text")).cast("long").as("n_ct"))
    }),

    "q343_cdc_bounded_purge" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-purge")
      val root = tmp.resolve("t").toString
      val b0 = o.filter(col("o_orderkey") % 4 =!= 0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      val up1 = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price", round(col("price") + 10.0d, 2))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
      val del1 = o.filter(col("o_orderkey") % 8 === 1)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      streaming.CdcApply.applyBatch(b0, root, "orders", Seq("o_orderkey"),
        Seq("seq"), "op", batchId = 0L, statsCol = Some("o_custkey"),
        extraStatsCols = Seq("o_orderkey"))
      streaming.CdcApply.applyBatch(up1.unionByName(del1), root, "orders",
        Seq("o_orderkey"), Seq("seq"), "op", batchId = 1L,
        statsCol = Some("o_custkey"), extraStatsCols = Seq("o_orderkey"))
      etl.ManifestTable.deleteWhere(s, root, "orders",
        col("o_orderkey") >= 3000L && col("o_orderkey") <= 6000L,
        statsCol = Some("o_custkey"), extraStatsCols = Seq("o_orderkey"))
      val out = etl.ManifestTable.read(s, root, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("price"), 2).as("price"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // SECONDARY-KEY GDPR forget (q335's lifecycle, forget taken by the
    // deleteByKeys fast path): write + append the versioned index, then
    // forget the m10=2 DOC-ID SET through minhashIndexForgetVersioned —
    // discovery probes the per-file secondary id blooms instead of
    // scanning band partitions — and query pairs at the CURRENT
    // (post-forget) version. The oracle is q327's (WITH the deletion
    // exclusion): any forgotten id still generating candidates, or any
    // bloom false-negative dropping a file the rewrite needed,
    // hash-mismatches.
    "q341_index_forget_by_key" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m10 = col("doc_id") % 10
      val tmp = java.nio.file.Files.createTempDirectory("graft-mh-fgt")
      val root = tmp.resolve("mh").toString
      Dedup.minhashIndexWriteVersioned(docs.filter(m10 =!= 0 && m10 =!= 1),
        "text", "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
      Dedup.minhashIndexAppendVersioned(s, docs.filter(m10 === 1), "text",
        "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
      Dedup.minhashIndexForgetVersioned(s, root,
        docs.filter(m10 === 2).select(col("doc_id").as("id")))
      val out = Dedup.incrementalPairsVersioned(s, docs.filter(m10 === 0),
          docs.filter(m10 =!= 0), "text", "doc_id", root,
          bands = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.35)
        .localCheckpoint() // materialize, then drop the on-disk index
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // COMPOSITE-KEY storage MERGE (q337 under a two-column key): publish
    // (orderkey%3!=0) orders range-clustered on o_custkey, merge a
    // source of (orderkey%2==0) rows at price+10 keyed on (o_custkey,
    // o_orderkey) — discovery narrows on whichever key column has
    // stats coverage (per-column containment is necessary for tuple
    // containment; here o_custkey), and the oracle CASE over the union
    // grades the merged state exactly as q337 does.
    "q342_merge_composite_key" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-merge-ck")
      val root = tmp.resolve("t").toString
      etl.ManifestTable.publish(s, root,
        Map("o" -> o.filter(col("o_orderkey") % 3 =!= 0)
          .repartitionByRange(8, col("o_custkey"))),
        statsCols = Map("o" -> "o_custkey"))
      val src = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price", round(col("price") + 10.0d, 2))
      etl.ManifestTable.mergeInto(s, root, "o", src,
        key = Seq("o_custkey", "o_orderkey"),
        statsCol = Some("o_custkey"))
      val out = etl.ManifestTable.read(s, root, "o")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("price"), 2).as("price"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // NVARCHAR width-cap validation (the DDL's declared widths,
    // sql:49-50, enforced engine-side): validate-or-quarantine split on
    // length(text) <= 300 (document lengths straddle the cap, so both
    // sides are populated), both sides labeled — proves the cap
    // semantics (chars, NULL passes) against the SQL CASE mirror.
    "q336_length_cap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (ok, bad) = etl.CleaningOps.validate(d,
        etl.CleaningOps.lengthCap(col("text"), 300))
      ok.select(col("doc_id"), lit("valid").as("side"))
        .unionByName(bad.select(col("doc_id"), lit("quarantined").as("side")))
    }),

    // FILTERED ANN: top-10 among label == 3 only — the metadata column
    // rides in the index files (ivfWriteVersioned metaCols), so the
    // predicate pushes into the scan of the probed lists' files (file
    // skipping × PushedFilters, spec-asserted) instead of post-hoc
    // filtering an unconstrained top-k (which, at 10 uniform labels,
    // would keep ~1 of 10 results). nprobe raised to 6: the standard over-probe
    // trade under a selective predicate.
    "q328_filtered_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft-ivf-flt")
        .toString + "/ivf"
      val cents = Similarity.ivfWriteVersioned(e, "vec_id", "embedding",
        root, nlist = 16, metaCols = Seq("label"))
      Similarity.ivfTopKVersioned(s, root, cents,
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
        nprobe = 6, pred = Some(col("label") === 3))
    }),

    // FILTERED graph-ANN (the q328 constraint on the graph index): the
    // walk stays unconstrained — non-matching nodes keep routing, since
    // filtering during the walk fragments the graph under selective
    // predicates (the ACORN problem) — and label == 3 applies to the
    // FINAL 48-wide beam, re-ranked over survivors (over-widen rule:
    // beamWidth ≈ k/selectivity). Same cheap build profile as q325.
    "q329_graph_ann_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft-gann-flt")
        .toString + "/g"
      operators.GraphAnn.graphWriteVersioned(e, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, degree = 16, refine = 0,
        root = root, upperMod = 4, upperDegree = 8, upperRefine = 0)
      operators.GraphAnn.layeredTopKVersionedWhere(s, root, e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", dim = 64,
          planes = 4, tables = 2, entries = Seq(0L, 4L, 8L, 12L),
          pred = col("label") === 3, upperRounds = 1, upperWidth = 16,
          rounds = 2, beamWidth = 48)
        .filter(col("rank") <= 5)
    }),

    // Hard-negative mining (the contrastive-training board): per
    // anchor, the 5 most-similar WRONG-label vectors, each against the
    // anchor's best same-label positive with the integer margin —
    // margin6 >= 0 flags negatives that outrank every positive (a
    // label-error suspect as much as a training example, see q299).
    "q330_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 8), "vec_id",
        "embedding", "label", k = 5)
    }),

    // Single-row digest of the two K-M boards (the round-13 verdict's
    // final survival-board discriminator): ONE all-BIGINT row carrying
    // (n_rows, board_ck) for the q252 session board and the q282
    // customer board side by side. Root cause of the 4-round hash-only
    // red was found this round — the oracle's uncast `n_risk` (a
    // window SUM over BIGINT) is HUGEINT in DuckDB, which a pandas
    // fetch renders float64 (`9549.0` vs Spark's `9549`), red under
    // any value-formatting hash while rows/schema/== stay green. The
    // base oracles now CAST it; this digest pins the fold itself under
    // a surface where no such type drift is possible (see ROUND14.md).
    "q331_km_board_digest" -> ((s, dir) => {
      import graft.operators.Validate
      val cols = Seq("t_days", "n_risk", "n_events", "survival_p6")
      def digest(df: DataFrame, rowsName: String, ckName: String) =
        df.withColumn("__mix",
            Validate.rowMix(cols.map(c => Validate.enc.long(col(c)))))
          .agg(count(lit(1)).as(rowsName),
            (sum(col("__mix").cast("decimal(38,0)")) % lit(Validate.P))
              .cast("long").as(ckName))
      val km = operators.Survival.kaplanMeier(
        operators.Survival.sessionLifetimes(t(s, dir, "events"), "user_id",
          "ts", "event_id", gapSeconds = 1800L),
        durationCol = "duration_min").drop("survival")
      val usr = operators.Survival.kaplanMeier(
        operators.Survival.lifetimes(t(s, dir, "orders"), "o_custkey",
          "o_orderdate", censorDays = 90)).drop("survival")
      digest(km, "km_rows", "km_ck")
        .crossJoin(digest(usr, "user_rows", "user_ck"))
    }),

    // ManifestTable-backed IVF index (the versioned ANN lifecycle):
    // build on the base corpus (one atomic commit = version 1), APPEND
    // the 5..24 batch (version 2), DELETE vec_id % 7 == 3 by manifest
    // copy-on-write (version 3), then search BOTH snapshots — pinned
    // at version 1 (pre-append, pre-delete: the deleted rows are still
    // visible there, which IS the snapshot-isolation contract) and at
    // the latest version (base ∪ delta minus deleted). One frame,
    // tagged by `snapshot`. The oracle replays assignment under the
    // base-seeded centroids and both candidate sets.
    "q332_ivf_versioned" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val isDelta = col("vec_id") >= 5 && col("vec_id") < 25
      val root = java.nio.file.Files.createTempDirectory("graft-ivf-ver")
        .toString + "/ivf"
      val cents = Similarity.ivfWriteVersioned(e.filter(!isDelta), "vec_id",
        "embedding", root, nlist = 16)
      Similarity.ivfAppendVersioned(e.filter(isDelta), "vec_id", "embedding",
        root, cents)
      Similarity.ivfDeleteVersioned(s, root, col("vec_id") % 7 === 3)
      val q = e.filter(col("vec_id") < 5)
      def searchAt(v: Option[Long], tag: Long) =
        Similarity.ivfTopKVersioned(s, root, cents, q, "vec_id", "embedding",
          k = 10, nprobe = 4, version = v).withColumn("snapshot", lit(tag))
      searchAt(Some(1L), 1L).unionByName(searchAt(None, 3L))
    }),

    // Versioned graph-ANN (the q332 manifest story for the graph
    // family): both edge layers + the tombstone table land in ONE
    // commit. Build (v1), DELETE a slice (v2 — tombstones only), then
    // run the q311 recall board against the index PINNED AT VERSION 1:
    // if snapshot isolation broke anywhere — the delete leaking into
    // the pinned read, a layer resolving from a different version —
    // the tombstoned nodes would vanish from the final beam and the
    // oracle (the q311 replay, which knows nothing of the delete)
    // would hash-mismatch. Isolation oracle-graded, not just
    // spec-asserted.
    "q334_graph_ann_versioned" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      // the exact board is consumed by BOTH the hits semi-join and the
      // per-query groupBy: cut it so the brute-force pass runs ONCE
      // (Catalyst does not dedup repeated subtrees — guide §1.2 pass
      // counting; the frame is queries x k rows, tiny to materialize)
      val exact = operators.Lineage.cut(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
          k = 10).select(col("query_id"), col("vec_id")))
      val root = java.nio.file.Files.createTempDirectory("graft-gann-ver")
        .toString + "/g"
      operators.GraphAnn.graphWriteVersioned(e, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2, degree = 16, refine = 1,
        root = root, upperMod = 4, upperDegree = 8, upperRefine = 0)
      operators.GraphAnn.graphDeleteVersioned(s, root,
        e.filter(col("vec_id") % 9 === 1).select("vec_id"))
      val ann = operators.GraphAnn.layeredTopKVersioned(s, root, e, qs,
          "vec_id", "embedding", dim = 64, planes = 4, tables = 2,
          entries = Seq(0L, 4L, 8L, 12L), upperRounds = 2, upperWidth = 16,
          rounds = 3, beamWidth = 48, version = Some(1L))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      val hits = exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("index_hits"))
      exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          array_join(transform(array_sort(collect_list(col("vec_id"))),
            _.cast("string")), "|").as("exact_topk"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("index_hits", coalesce(col("index_hits"), lit(0L)))
        // 5 query points — single-row-per-query reduce, not data-sized
        .withColumn("idx_total",
          sum(col("index_hits")).over(Window.partitionBy()))
        .withColumn("k_total", sum(col("k")).over(Window.partitionBy()))
        .select(col("query_id"), col("k"), col("exact_topk"),
          col("index_hits"),
          (col("index_hits").cast("double") / col("k").cast("double")
            >= 0.7d).as("layer_recall_ok"),
          (col("idx_total").cast("double") / col("k_total").cast("double")
            >= 0.9d).as("layer_corpus_ok"))
    }),

    // Measured LSH recall board (round-13 verdict #6): banded-minhash
    // candidate recall vs the EXACT Jaccard pair set, oracle-graded —
    // possible because the board runs a PORTABLE hash family (literal
    // constants, pure integer mod-P arithmetic) instead of xxhash64,
    // so DuckDB replays every minhash, band key, candidate pair and
    // the recall division bit-for-bit. One row per (bands, rows)
    // config: the empirical S-curve behind the q268 band planner.
    // Round 15: the board grades a GRADED-near-dup corpus (every even
    // doc plus a prefix-truncated variant at ~1.0/0.9/0.75/0.6
    // Jaccard, the GradedCorpusSql mirror) so recall DISCRIMINATES
    // between the four configs instead of reading 1.0 everywhere.
    "q333_lsh_recall_board" -> ((s, dir) => {
      Dedup.minhashRecallBoard(gradedNearDupCorpus(s, dir), "text", "doc_id",
        shingleN = 3, threshold = 0.5, configs = RecallBoardConfigs)
    }),

    // Recall-driven config selection (round-15 verdict #8): the board
    // stops being informative-only — chooseLshConfig grades the SAME
    // graded corpus and picks the CHEAPEST (fewest measured candidate
    // pairs, ties to the smaller signature budget) config meeting a
    // 0.95 recall floor. The oracle replays the full board in SQL and
    // applies the identical selection rule, so the tuner's decision
    // itself is oracle-graded. At 100 TB this runs on a bounded graded
    // sample and the chosen knobs drive the corpus-sized dedup
    // (Dedup.dedupCorpusTuned).
    "q340_lsh_autotune" -> ((s, dir) => {
      import s.implicits._
      val (b, r) = Dedup.chooseLshConfig(gradedNearDupCorpus(s, dir),
        "text", "doc_id", recallFloorP6 = 950000L, shingleN = 3,
        threshold = 0.5, configs = RecallBoardConfigs)
      val c = Dedup.lshConfigChoice("graft.dedup.lsh.choice").get
      Seq((b.toLong, r.toLong, c.nCand, c.recallP6))
        .toDF("bands", "rows_per_band", "n_cand", "recall_p6")
    }),

    // Maximal duplicated-span extraction (the suffix-array ExactSubstr
    // report at match length 10): per doc, each maximal interval of
    // token positions covered by repeated 10-token windows, with exact
    // (start, len) boundaries — the longest-duplicate-match answer
    // q96's per-doc fraction and q188's removal both build on, now
    // surfaced as intervals. Oracle replays windows (gram strings),
    // occurrence counts and the gaps-and-islands merge.
    "q321_dup_span_extents" -> ((s, dir) => {
      Dedup.dupSpans(t(s, dir, "documents"), "text", "doc_id", spanN = 10)
    }),

    // ---- A-family: aggregation / distinct / dedup (SURVEY §2.3) ----

    // Grouped aggregation over the big fact (TPC-H Q1 shape); exercises
    // map-side partial agg + single shuffle on the group key.
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("n"))
    }),

    // A1 distinct extraction (dimension build from a fact column).
    "q06_distinct_extract" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderpriority").as("priority")).na.drop().distinct()
    }),

    // A2 deterministic keep-first dedup via window (SURVEY hard-part #1).
    "q07_dedup_keep_first" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      Dimensions.dedupKeepFirst(c, Seq("c_nationkey"), "c_custkey")
        .select("c_custkey", "c_name", "c_nationkey")
    }),

    // A3/U1 distinct union across sources (required-universe).
    "q08_union_universe" -> ((s, dir) => {
      EntityResolution.requiredUniverse("custkey",
        t(s, dir, "orders").select(col("o_custkey").as("custkey")),
        t(s, dir, "customer").select(col("c_custkey").as("custkey")))
    }),

    // U3 intersect: customers active in BOTH halves of the date range
    // (completes the set-op surface next to q08 union / q09 except).
    "q103_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cut = to_timestamp(lit("1998-01-01"))
      o.filter(col("o_orderdate") < cut).select(col("o_custkey"))
        .intersect(o.filter(col("o_orderdate") >= cut).select(col("o_custkey")))
    }),

    // Ordered funnel: users per deepest view->click->purchase stage
    // reached (each step strictly after the previous, earliest qualifying
    // occurrence greedy). One hash shuffle on user_id — chained unordered
    // windows over the same partitioning, never a self-join per step.
    "q104_funnel" -> ((s, dir) => {
      operators.Funnel.stageCounts(t(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxGapMinutes = Some(1440L))
    }),

    // Rank-family window surface: quartile (ntile), percent_rank,
    // cume_dist, and lag-delta per customer's orders under a UNIQUE
    // (price desc, key) order. percent_rank/cume_dist are integer-ratio
    // doubles — identical IEEE results on any engine, no rounding needed.
    "q105_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("delta_prev"))
    }),

    // PageRank over the part->supplier co-occurrence graph (mod-bucketed
    // to ~100 nodes so the oracle's unrolled replay stays tractable):
    // 5 grid-snapped iterations, dangling mass redistributed. The oracle
    // replays every iteration as CTEs and hash-matches the final ranks.
    "q106_pagerank" -> ((s, dir) => {
      val e = t(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(100L)).as("src"),
        pmod(col("l_suppkey"), lit(100L)).as("dst"))
        .filter(col("src") =!= col("dst"))
      operators.PageRank.run(e, iters = 5, damping = 0.85)
    }),

    // Robust outlier profile: lower-median + MAD per group, counting
    // values beyond 3 robust sigmas — rank-based medians (exact data
    // values, no interpolation) keep the result bit-identical across
    // engines.
    "q107_robust_outliers" -> ((s, dir) => {
      operators.Profiler.robustOutliers(t(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice", k = 3.0)
    }),

    // GROUPING SETS with grouping() indicators — the explicit form
    // completing the rollup (q19) / cube (q27) trio; exercised through
    // the SQL surface.
    "q108_grouping_sets" -> ((s, dir) => {
      Engine.sql(s, dir,
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
          |  count(*) AS n,
          |  round(sum(o_totalprice), 2) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }),

    // Equi-width histogram (profiling): min/max bounds enter as literals
    // (driver-collected 2-value aggregate), binning is one
    // map-side-combined aggregation on the bucket id.
    "q109_histogram" -> ((s, dir) => {
      operators.Profiler.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        bins = 20)
    }),

    // Bivariate statistics per group: correlation, sample covariance,
    // sample stddev — the numeric-profiling counterpart of q23.
    "q110_corr_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qty_price"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          count(lit(1)).as("n"))
    }),

    // Sliding-window aggregation (1 h windows every 15 min): each event
    // expands scan-side into its 4 overlapping windows, then one shuffle
    // on (window, type) — completes the window-type surface next to
    // tumbling (q50) and session (q51/q53).
    "q111_sliding_window" -> ((s, dir) => {
      graft.streaming.EventStreams.slidingAgg(t(s, dir, "events"),
        duration = "1 hour", slide = "15 minutes")
    }),

    // Deterministic priority sampling: top-100 by weight/uniform priority
    // (content-hash uniforms), the weighted sampling-without-replacement
    // primitive; plans as TakeOrderedAndProject.
    "q112_priority_sample" -> ((s, dir) => {
      operators.CorpusMix.prioritySample(t(s, dir, "documents"),
        weightCol = "n_chars", keyCol = "text", idCol = "doc_id", k = 100)
    }),

    // Grouped ordinary-least-squares fit: slope/intercept/R² of price on
    // quantity per return flag — the regr_* aggregate family (single
    // map-side-combined pass, one shuffle on the group key).
    "q113_regression" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
    }),

    // RANGE-frame moving aggregate: per customer, trailing-90-day order
    // total on the µs time axis. The frame is value-defined (peers
    // included), so the result is deterministic under ties without any
    // row-order tiebreak.
    "q114_moving_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        // NTZ -> LTZ cast is the identity under the UTC session TZ
        .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
        .rangeBetween(-7776000000000L, 0L) // 90 days in µs
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("mv_sum"),
        count(lit(1)).over(w).as("mv_n"))
    }),

    // Percent-of-total (ratio_to_report): each nation's share of global
    // revenue. The global total rides in as a broadcast 1-row frame (no
    // single-partition window); both sums snap to the 2dp grid before
    // the ratio, which uses the house floor-snap rule.
    "q115_revenue_share" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val byNation = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      val total = byNation.agg(round(sum(col("rev")), 2).as("tot"))
      byNation.crossJoin(broadcast(total))
        .select(col("n_name"), col("rev"),
          (floor(col("rev") / col("tot") * lit(1e6) + lit(0.5d)) / lit(1e6))
            .as("share"))
    }),

    // Line-level dedup (the CCNet/RefinedWeb line-dedup stage): 8-token
    // fixed-width "lines", cross-doc duplicate lines dropped everywhere
    // except the min-doc canonical copy, documents reassembled from their
    // kept lines in order. Only (doc_id, idx, hash) shuffles for the
    // frequency pass; line text stays scan-side until reassembly.
    "q116_line_dedup" -> ((s, dir) => {
      Dedup.lineDedup(t(s, dir, "documents"), "text", "doc_id", wordsPerLine = 8)
    }),

    // Cohort retention triangle: users grouped by first-event week;
    // per (cohort_week, week_offset) active distinct users + retention
    // ratio vs the cohort's own offset-0 size.
    "q117_retention" -> ((s, dir) => {
      operators.Cohorts.retention(t(s, dir, "events"), "user_id", "ts")
    }),

    // Interval coalescing + coverage: each event claims
    // [ts, ts + floor(value*60) seconds); overlapping/touching claims
    // merge per user (running-max island windows on epoch-µs longs —
    // exact integer arithmetic, one shuffle on the user key).
    "q118_interval_coverage" -> ((s, dir) => {
      val startUs = unix_micros(col("ts"))
      operators.Intervals.coverage(t(s, dir, "events"), "user_id",
        startUs, startUs + floor(col("value") * lit(60d)).cast("long") * lit(1000000L))
    }),

    // Daily resample + forward fill: dense per-user day grid over the
    // observed span, gaps carry the last observed daily total forward.
    "q119_resample_ffill" -> ((s, dir) => {
      operators.Resample.dailyForwardFill(t(s, dir, "events"), "user_id", "ts", "value")
    }),

    // Order-independent modular table checksum per order status — the
    // cross-system "did replication preserve every row" validation
    // fingerprint; the oracle recomputes the identical polynomial in
    // DuckDB, which IS the operator's point.
    "q120_table_checksum" -> ((s, dir) => {
      import operators.Validate
      Validate.checksum(t(s, dir, "orders"), Seq(
          Validate.enc.long(col("o_orderkey")),
          Validate.enc.long(col("o_custkey")),
          Validate.enc.date(col("o_orderdate")),
          Validate.enc.moneyCents(col("o_totalprice"))),
        groupCols = Seq("o_orderstatus"))
    }),

    // Bigram collocation mining: top-20 adjacent-token pairs by lift
    // (the log-free core of PMI — rank-equivalent, transcendental-free).
    "q121_collocations" -> ((s, dir) => {
      operators.TextIndex.collocations(t(s, dir, "documents"), "text", "doc_id",
        minCount = 5L, k = 20)
    }),

    // Per-label mean-pooled centroids + intra-cluster dispersion on the
    // 1e-4 quantized integer grid (exact vector sums; cosine vs the
    // unnormalized sum vector — scale-invariant, one rounding layer).
    "q122_label_centroids" -> ((s, dir) => {
      Similarity.labelCentroids(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
    }),

    // Sliding-window document chunking: 64-token context windows at
    // stride 48 (16-token overlap) — packNextFit's complement for docs
    // LONGER than the context length. Zero-shuffle scan-side expansion.
    "q123_doc_chunks" -> ((s, dir) => {
      operators.SequencePack.chunkSliding(t(s, dir, "documents"), "text", "doc_id",
        window = 64, stride = 48)
    }),

    // Vocabulary coverage curve: top-32 terms with cumulative corpus
    // coverage — the tokenizer-sizing / OOV-rate profile.
    "q124_vocab_coverage" -> ((s, dir) => {
      operators.TextIndex.vocabCoverage(t(s, dir, "documents"), "text", "doc_id", k = 32)
    }),

    // Rolling 7-day active users (exact sliding distinct): constant
    // fan-out of the deduplicated (user, day) frame, never raw events.
    "q125_rolling_active" -> ((s, dir) => {
      operators.Cohorts.rollingActive(t(s, dir, "events"), "user_id", "ts", windowDays = 7)
    }),

    // Longest consecutive-day streak per user (gaps-and-islands anchor).
    "q126_streaks" -> ((s, dir) => {
      operators.Cohorts.streaks(t(s, dir, "events"), "user_id", "ts")
    }),

    // Filter-attrition funnel: per-stage admit counts for quality →
    // exact-dedup → per-source-cap, computed in ONE pass (later stages
    // see earlier flags through windows, the corpus is never rescanned).
    "q127_attrition" -> ((s, dir) => {
      operators.CorpusPipeline.attritionReport(t(s, dir, "documents"),
        "text", "doc_id", "source", perSourceCap = 10)
    }),

    // Ingest-volume anomaly detection: per event type, each day's count
    // z-scored against its trailing 7-day window (exact integer moments,
    // fixed IEEE derivation, 6dp grid).
    "q128_daily_anomalies" -> ((s, dir) => {
      operators.Profiler.dailyAnomalies(t(s, dir, "events"), "event_type", "ts",
        windowDays = 7, threshold = 2.0)
    }),

    // Triangle count over the part-supplier co-occurrence graph.
    // Graph algorithms scale in EDGES, not scan rows — a mod-bucketed
    // co-occurrence graph saturates toward completeness as rows grow
    // (wedge volume explodes quadratically in density), so the edge
    // SAMPLE is calibrated from the row count (a portable arithmetic
    // hash at rate 1/1, 1/10, 1/100) to hold graph density constant
    // across scale factors: the scan scales, the graph does not.
    "q129_triangles" -> ((s, dir) => {
      operators.Graphs.triangleCount(cooccurrenceEdges(t(s, dir, "lineitem")),
        "src", "dst")
    }),

    // Multi-source BFS over the co-occurrence graph: exact hop distances
    // from a 3-node seed set, 3 unrolled frontier rounds (the
    // contamination-neighborhood / blast-radius query). Oracle: a
    // recursive CTE expanding (id, dist) states — UNION-deduplicated so
    // it expands per state, not per path — then min per node.
    "q177_bfs_distances" -> ((s, dir) => {
      import s.implicits._
      val seeds = Seq(0L, 1L, 2L).toDF("id")
      operators.Graphs.bfsDistances(
        cooccurrenceEdges(t(s, dir, "lineitem")), "src", "dst",
        seeds, "id", maxHops = 3)
    }),

    // Hybrid retrieval: BM25 (q88's exact formula) and cosine-vs-doc-0
    // (q35's exact formula) each produce a top-20, fused by
    // reciprocal-rank (integer ppb reciprocals — order-free BIGINT sum,
    // no float score path). The oracle replays both rankings AND the
    // fusion, so lexical, semantic, and RRF arithmetic are all graded.
    "q178_hybrid_retrieval" -> ((s, dir) => {
      operators.Retrieval.hybridTopK(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        "text", "doc_id", "vec_id", "embedding",
        Seq("spark", "vector", "stream"), queryVecId = 0L,
        k = 10, kRetrieve = 20)
    }),

    // Deterministic training-order shuffle: content-hash sharding + a
    // per-shard rank instead of one global sort — the "shuffle the
    // corpus" step a training run needs, reproducible across engines
    // and row orders. global_pos is the round-robin interleave the
    // loader reads back.
    "q179_training_order" -> ((s, dir) => {
      operators.CorpusMix.shardedTrainingOrder(
          t(s, dir, "documents"), "text", "doc_id", nShards = 8)
        .select("doc_id", "shard", "pos", "global_pos")
    }),

    // BPE tokenization, merges trained on THIS corpus (distributed word
    // counts, driver greedy over the bounded frequency head). Hard rows:
    // the zero-merge token count (chars + one end-marker per word) and
    // the single-fixed-merge count, which the oracle replays via the
    // non-overlapping replace('th') law. The trained-table path (data-
    // derived merges can't enter static oracle SQL) is graded by
    // invariant booleans: per-word lower/upper token bounds, exact
    // decode round-trip, and full merge-count training. Exact trained
    // token arithmetic is proven against an independent reference
    // implementation in BpeSpec.
    "q180_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = operators.Bpe.trainMerges(docs, "text",
        nMerges = 60, maxWords = 2048)
      val text = col("text")
      val trained = operators.Bpe.encode(text, merges)
      val base = operators.Bpe.encode(text, Nil)
      val th = operators.Bpe.encode(text, Seq(("t", "h")))
      docs.select(
        col("doc_id"),
        operators.Bpe.wordCount(text).as("n_words"),
        size(base).cast("long").as("n_tokens_base"),
        size(th).cast("long").as("n_tokens_th"),
        (size(trained).cast("long") >= operators.Bpe.wordCount(text))
          .as("trained_ge_words"),
        (size(trained) <= size(base)).as("trained_le_base"),
        (operators.Bpe.decode(trained) === operators.Bpe.canonicalText(text))
          .as("roundtrip_ok"),
        lit(merges.length == 60).as("n_merges_ok"))
    }),

    // Incremental aggregate maintenance: rollup state built from history
    // (< 1997-07-01), the later batch folded in as partials — the oracle
    // recomputes from scratch over ALL orders, asserting incremental ≡
    // full, bit-for-bit (exact cents state).
    "q130_incremental_agg" -> ((s, dir) => {
      import operators.IncrementalAgg
      val o = t(s, dir, "orders")
      val cut = to_timestamp(lit("1997-07-01"))
      val stored = IncrementalAgg.partials(
        o.filter(col("o_orderdate") < cut), Seq("o_orderstatus"), "o_totalprice")
      val batch = IncrementalAgg.partials(
        o.filter(col("o_orderdate") >= cut), Seq("o_orderstatus"), "o_totalprice")
      IncrementalAgg.withAvg(
        IncrementalAgg.merge(Seq(stored, batch), Seq("o_orderstatus")))
    }),

    // First-order Markov transition matrix over each user's event
    // sequence ((ts, id)-ordered for determinism), row-normalized on the
    // 6dp grid.
    "q131_transitions" -> ((s, dir) => {
      operators.Paths.transitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
    }),

    // Top opening journeys: first 3 event types per user, top-10 paths.
    "q132_top_paths" -> ((s, dir) => {
      operators.Paths.topPaths(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", depth = 3, k = 10)
    }),

    // Interval x interval overlap join per user: 'view' holding windows
    // against 'click' windows ([ts, ts + floor(value*60) s)), bucketed
    // on the hour with designated-bucket dedup; per user pair count +
    // total overlap time.
    "q133_overlap_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      def iv(typ: String, p: String) = e.filter(col("event_type") === typ).select(
        col("user_id"),
        unix_micros(col("ts")).as(s"${p}_start"),
        (unix_micros(col("ts"))
          + floor(col("value") * lit(60d)).cast("long") * lit(1000000L))
          .as(s"${p}_end"))
      operators.RangeJoin.intervalOverlapJoin(
          iv("view", "v"), iv("click", "c"), Seq("user_id"),
          "v_start", "v_end", "c_start", "c_end",
          bucket = 3600L * 1000000L, maxBuckets = 64)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("v_end"), col("c_end"))
            - greatest(col("v_start"), col("c_start"))).as("overlap_us"))
    }),

    // Snapshot drift report: orders vs a deterministically perturbed
    // copy (1/97 removed, 1/89 repriced, 1/101 re-keyed as additions);
    // the diff joins (key, fingerprint) only — payload never shuffles.
    "q134_snapshot_diff" -> ((s, dir) => {
      import operators.Validate
      val o = t(s, dir, "orders")
      val fp = Validate.rowMix(Seq(
        Validate.enc.moneyCents(col("o_totalprice")),
        Validate.enc.date(col("o_orderdate"))))
      val perturbed = o.filter(pmod(col("o_orderkey"), lit(97L)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(89L)) === 0, col("o_totalprice") + lit(1.0d))
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(101L)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      Validate.diff(o, perturbed, Seq("o_orderkey"), fp)
    }),

    // Time-weighted average value per user (TWAP): exact cents x ms
    // weights in DECIMAL, one final division on the 6dp grid.
    "q135_twap" -> ((s, dir) => {
      operators.Resample.timeWeightedAvg(t(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
    }),

    // Market-basket association rules over (user, day) baskets of event
    // types: support/confidence/lift per co-occurring pair.
    "q136_basket_rules" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      operators.Baskets.pairRules(e, Seq("user_id", "day"), "event_type",
        minPairSupport = 5L)
    }),

    // Debounce: drop events within 10 minutes of the previous event of
    // the same (user, type) — duplicate-click suppression.
    "q137_debounce" -> ((s, dir) => {
      operators.Resample.debounce(t(s, dir, "events"),
          Seq("user_id", "event_type"), "ts", "event_id", gapSeconds = 600L)
        .select("event_id", "user_id", "event_type", "ts")
    }),

    // Referential-integrity audit: orphaned children, unreferenced
    // parents, and coverage per FK relation (events.user_id -> customer
    // is the naturally partial one).
    "q138_fk_audit" -> ((s, dir) => {
      operators.Validate.fkAudit(Seq(
        ("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        ("lineitem_part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        ("orders_customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        ("events_customer", t(s, dir, "events"), "user_id",
          t(s, dir, "customer"), "c_custkey")))
    }),

    // Local clustering coefficient over the same density-held
    // co-occurrence graph as q129: top-20 nodes by neighborhood density.
    "q139_clustering_coeff" -> ((s, dir) => {
      operators.Graphs.clusteringCoefficient(
        cooccurrenceEdges(t(s, dir, "lineitem")), "src", "dst", k = 20)
    }),

    // Perceptual average-hash per synthesized BMP: REAL byte-level
    // decode -> 4x4 block lattice -> cross-multiplied comparison bits.
    // The oracle replays the pixel formula, never the bytes — agreement
    // proves the decoder AND the hash.
    "q140_image_ahash" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeBmpTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.bmpAHash(media, grid = 4)
    }),

    // Image near-dup pairs: banded aHash LSH (4-bit bands) + exact
    // Hamming verify — the text-dedup discipline applied to images.
    "q141_image_neardup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeBmpTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.bmpNearDupPairs(media, grid = 4, maxHamming = 1)
    }),

    // Eval-side contamination profile: per benchmark doc (q45's eval
    // split), the fraction of its 3-gram shingles found in the corpus.
    "q142_eval_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.evalOverlapReport(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id", shingleN = 3)
    }),

    // Partition-level checksum comparison: orders vs a snapshot with
    // 1995 repriced — only the 1995 partition mismatches. The cheap
    // first stage of the 100 TB validation workflow (q134 diff is the
    // drill-down).
    "q143_checksum_compare" -> ((s, dir) => {
      import operators.Validate
      val o = t(s, dir, "orders").withColumn("yr", year(col("o_orderdate")))
      val repriced = o.withColumn("o_totalprice",
        when(col("yr") === 1995, col("o_totalprice") + lit(1.0d))
          .otherwise(col("o_totalprice")))
      Validate.checksumCompare(o, repriced,
        d => Seq(Validate.enc.long(col("o_orderkey")),
          Validate.enc.moneyCents(col("o_totalprice"))),
        groupCols = Seq("yr"))
    }),

    // Exact p50/p95/p99 of inter-event gaps (ms) per event type —
    // rank-selected quantiles (percentile_disc semantics), rational-p
    // integer ranks, no interpolation, no floats.
    "q144_latency_quantiles" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"),
          expr("(unix_micros(ts) - __prev) div 1000").as("gap_ms"))
      operators.Profiler.exactQuantiles(gaps, "event_type", "gap_ms",
        Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L)))
    }),

    // Golden-record entity resolution: blocked fuzzy pairs (q86) ->
    // connected components (the q78 star contraction) -> one canonical
    // record per entity cluster with its merged member list. The full
    // MDM composition from primitives that are each oracle-checked alone.
    "q145_golden_record" -> ((s, dir) => {
      val parts = t(s, dir, "part")
      // cut: `names` (distinct + rank, vocabulary-sized) feeds the two
      // pair-id joins AND the final cluster join — three consumers that
      // would each re-run the distinct + global rank (guide §1.2)
      val names = operators.Lineage.cut(
        parts.select(col("p_name").as("name")).na.drop().distinct()
        .withColumn("nid",
          row_number().over(Window.orderBy(col("name"))).cast("long")))
      // coalesce the block key to '': split(...).getItem(1) is NULL for
      // single-token names and NULL join keys never match, whereas the
      // oracle's split_part returns '' and still pairs them — latent with
      // TPC-H p_name (always multi-word) but an engine-parity divergence
      // on other inputs
      val pairs = EntityResolution.fuzzyPairs(parts, "p_name",
        coalesce(split(col("name"), " ").getItem(1), lit("")), maxDist = 3)
      val idPairs = pairs
        .join(names.select(col("name").as("name_a"), col("nid").as("id_a")), Seq("name_a"))
        .join(names.select(col("name").as("name_b"), col("nid").as("id_b")), Seq("name_b"))
        .select("id_a", "id_b")
      val cl = Dedup.clustersStar(idPairs).withColumnRenamed("id", "nid")
      names.join(cl, Seq("nid"), "left")
        // nid is the name's rank in name order, so min nid = min name:
        // the canonical pick is lexicographic, engine-portable
        .withColumn("rep", coalesce(col("cluster_id"), col("nid")))
        .groupBy(col("rep"))
        .agg(min(col("name")).as("canonical_name"),
          count(lit(1)).as("n_members"),
          array_join(array_sort(collect_list(col("name"))), "|").as("members"))
        .filter(col("n_members") >= 2)
        .select("canonical_name", "n_members", "members")
    }),

    // Period-over-period: monthly revenue with previous month and
    // growth ratio (bounded month frame -> the global lag window is
    // months-many rows, never data-sized). Revenue is summed as exact
    // integer cents (the q148/q130 discipline — a raw double sum is
    // summation-order-dependent and can flip a .005 boundary between
    // engines); the only doubles are one division per output column
    // over exact integers.
    "q146_monthly_growth" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("cents"))
      val w = Window.orderBy(col("month"))
      monthly
        .withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .select(col("month"),
          (col("cents").cast("double") / 100d).as("rev"),
          (col("prev_cents").cast("double") / 100d).as("prev_rev"),
          (floor((col("cents") - col("prev_cents")).cast("double")
            / col("prev_cents").cast("double") * lit(1e6)
            + lit(0.5d)) / lit(1e6)).as("growth"))
    }),

    // Adoption curve: cumulative distinct users per event type by day,
    // WITHOUT an expanding distinct window — a user contributes to a
    // type on their FIRST day with it, so cumulative distinct = running
    // sum of first-adoption counts: the scalable rewrite of
    // count(DISTINCT) OVER (ROWS UNBOUNDED PRECEDING).
    "q147_adoption_curve" -> ((s, dir) => {
      val firstSeen = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(date_trunc("day", col("ts")).cast("date")).as("day"))
      val daily = firstSeen.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_new"))
      daily.withColumn("cum_users",
        sum(col("n_new")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }),

    // RFM segmentation: per customer recency (days since last order),
    // frequency, monetary (exact cents), each scored into quartiles by
    // ntile under a deterministic tie-broken order; segment = R*100+F*10+M.
    // The rank windows run over the CUSTOMER-AGGREGATED frame (one row
    // per customer, dimension-sized — never the fact scan); at extreme
    // dimension sizes swap the quartile cuts for approx_percentile
    // thresholds (q24 family), keeping the scoring arithmetic identical.
    "q148_rfm" -> ((s, dir) => {
      val byCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          max(col("o_orderdate").cast("date")).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("cents"))
        .withColumn("recency_days",
          datediff(to_date(lit("1998-12-31")), col("last_day")).cast("long"))
      def q(c: String, asc: Boolean) = ntile(4).over(
        Window.orderBy(
          (if (asc) col(c).asc else col(c).desc), col("o_custkey").asc)).cast("long")
      byCust
        .withColumn("r_score", q("recency_days", asc = true))
        .withColumn("f_score", q("frequency", asc = false))
        .withColumn("m_score", q("cents", asc = false))
        .withColumn("segment",
          col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
        .select("o_custkey", "recency_days", "frequency", "cents",
          "r_score", "f_score", "m_score", "segment")
    }),

    // Pareto / ABC analysis: parts classed A/B/C by cumulative revenue
    // share (<=80% A, <=95% B, else C) under (revenue desc, key) order.
    "q149_abc_pareto" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100d + 0.5d).cast("long"))
          .as("cents"))
      val w = Window.orderBy(col("cents").desc, col("l_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val total = rev.agg(sum(col("cents")).as("total_cents"))
      rev.crossJoin(broadcast(total))
        .withColumn("cum_cents", sum(col("cents")).over(w))
        // integer cross-multiply: cum/total <= 0.80 <=> cum*100 <= total*80
        .withColumn("abc_class",
          when(col("cum_cents") * 100L <= col("total_cents") * 80L, "A")
            .when(col("cum_cents") * 100L <= col("total_cents") * 95L, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("class_cents"))
    }),

    // Join-key skew profile: the diagnostic that feeds SkewJoin — per
    // candidate key column, cardinality, hottest-key frequency, and the
    // skew ratio (max/mean on the 6dp grid).
    "q150_skew_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def profile(c: String) = {
        val counts = li.groupBy(col(c).as("k")).agg(count(lit(1)).as("n"))
        counts.agg(
            count(lit(1)).as("n_distinct"),
            sum(col("n")).as("n_rows"),
            max(col("n")).as("max_freq"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"),
            col("max_freq"),
            (floor(col("max_freq").cast("double")
              / (col("n_rows").cast("double") / col("n_distinct").cast("double"))
              * lit(1e6) + lit(0.5d)) / lit(1e6)).as("skew_ratio"))
      }
      profile("l_orderkey")
        .unionByName(profile("l_partkey"))
        .unionByName(profile("l_suppkey"))
    }),

    // Benford first-digit audit: observed leading-digit distribution of
    // order totals vs the Benford expectation — the classic fabricated-
    // data forensic. Digit extraction is pure integer math (value scaled
    // to cents, leading digit via repeated division); the deviation is
    // |observed - expected| on the 6dp grid.
    "q151_benford" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100d + 0.5d).cast("long")
      // leading decimal digit of a positive integer via its decimal
      // string — exact, branch-free (a nested division chain would
      // triple the expression tree per level), same form as the oracle
      val lead = substring(cents.cast("string"), 1, 1).cast("long")
      val digits = t(s, dir, "orders").filter(cents > 0L)
        .groupBy(lead.as("digit")).agg(count(lit(1)).as("n"))
      val total = digits.agg(sum(col("n")).as("n_total"))
      // Benford P(d) = log10(1 + 1/d), as exact literals (9 constants)
      val benford = typedLit((1 to 9).map(d =>
        d.toLong -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6).toMap)
      digits.crossJoin(broadcast(total))
        .withColumn("observed",
          floor(col("n").cast("double") / col("n_total").cast("double")
            * lit(1e6) + lit(0.5d)) / lit(1e6))
        .withColumn("expected", element_at(benford, col("digit")))
        .withColumn("abs_dev",
          floor(abs(col("observed") - col("expected")) * lit(1e6) + lit(0.5d))
            / lit(1e6))
        .drop("n_total")
    }),

    // Activity heatmap: events per (day-of-week, hour) cell with each
    // cell's share of the total — the seasonality matrix. dow is 0-6
    // Sunday-first on both engines (Spark dayofweek()-1, DuckDB dow).
    "q152_activity_heatmap" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      val total = cells.agg(sum(col("n")).as("n_total"))
      cells.crossJoin(broadcast(total))
        .withColumn("share",
          floor(col("n").cast("double") / col("n_total").cast("double")
            * lit(1e6) + lit(0.5d)) / lit(1e6))
        .drop("n_total")
    }),

    // Sequence-integrity diagnostic: per user, events whose id runs
    // BACKWARDS relative to time order (adjacent inversions) — the
    // out-of-order-ingest monitor. The harness stream is perfectly
    // ordered, so disorder is INJECTED deterministically (every
    // id%101==0 event arrives 3 hours late — the q46/q134 injection
    // pattern) and the monitor must count exactly what the oracle
    // replays.
    "q153_order_integrity" -> ((s, dir) => {
      val delayed = t(s, dir, "events").withColumn("ts",
        when(col("event_id") % 101L === 0L, col("ts") + expr("INTERVAL 3 HOURS"))
          .otherwise(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      delayed
        .withColumn("__prev_id", lag(col("event_id"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("__prev_id").isNotNull && col("event_id") < col("__prev_id"),
            1L).otherwise(0L)).as("n_inversions"))
    }),

    // Welch's t statistic between two segments (the A/B-test readout):
    // moments from EXACT cents sums, the statistic derived in one fixed
    // IEEE sequence, 6dp grid. Degrees of freedom omitted deliberately
    // (Welch-Satterthwaite adds nothing to the engine surface).
    "q154_ab_test" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("grp",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "urgent")
            .otherwise("routine"))
        .withColumn("c", floor(col("o_totalprice") * 100d + 0.5d).cast("long"))
      val m = o.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          // c*c fits Int64 per row; the cross-row SUM does not at scale
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
      val a = m.filter(col("grp") === "urgent")
        .select(col("n").as("n1"), col("s").as("s1"), col("s2").as("q1"))
      val b = m.filter(col("grp") === "routine")
        .select(col("n").as("n2"), col("s").as("s2v"), col("s2").as("q2"))
      def mean(sc: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        sc.cast("double") / n.cast("double")
      def svar(q: org.apache.spark.sql.Column, sc: org.apache.spark.sql.Column,
               n: org.apache.spark.sql.Column) =
        (q.cast("double") - sc.cast("double") * sc.cast("double") / n.cast("double")) /
          (n.cast("double") - 1d)
      a.crossJoin(b).select(
        col("n1"), col("n2"),
        (floor(mean(col("s1"), col("n1")) / 100d * lit(1e6) + lit(0.5d)) / lit(1e6))
          .as("mean_urgent"),
        (floor(mean(col("s2v"), col("n2")) / 100d * lit(1e6) + lit(0.5d)) / lit(1e6))
          .as("mean_routine"),
        (floor((mean(col("s1"), col("n1")) - mean(col("s2v"), col("n2")))
          / sqrt(svar(col("q1"), col("s1"), col("n1")) / col("n1").cast("double")
            + svar(col("q2"), col("s2v"), col("n2")) / col("n2").cast("double"))
          * lit(1e6) + lit(0.5d)) / lit(1e6)).as("t_stat"))
    }),

    // Chi-square independence of order status x priority: expected
    // counts from exact integer margins; per-cell terms snap to the 6dp
    // grid as SCALED BIGINTs so the cross-cell sum is order-free.
    "q155_chi_square" -> ((s, dir) => {
      val cells = t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("r"), col("o_orderpriority").as("p"))
        .agg(count(lit(1)).as("n"))
      val rm = cells.groupBy(col("r")).agg(sum(col("n")).as("nr"))
      val pm = cells.groupBy(col("p")).agg(sum(col("n")).as("np"))
      val tot = cells.agg(sum(col("n")).as("nt"))
      val e = col("nr").cast("double") * col("np").cast("double") /
        col("nt").cast("double")
      val term6 = floor((col("n").cast("double") - e) * (col("n").cast("double") - e)
        / e * lit(1e6) + lit(0.5d)).cast("long")
      cells.join(broadcast(rm), Seq("r")).join(broadcast(pm), Seq("p"))
        .crossJoin(broadcast(tot))
        .withColumn("t6", term6)
        .agg(count(lit(1)).as("n_cells"),
          (sum(col("t6")).cast("double") / lit(1e6)).as("chi2"))
    }),

    // Gini coefficient of customer revenue (inequality of spend):
    // exact-cents totals, the rank-weighted closed form
    // G = (2*sum(i*x_i) / (n*sum(x)) - (n+1)/n) over the ascending sort.
    // The rank window runs over the customer-aggregated frame
    // (dimension-sized; q148's documented approx swap applies).
    "q156_gini" -> ((s, dir) => {
      val byCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("c"))
      val ranked = byCust.withColumn("i",
        row_number().over(Window.orderBy(col("c").asc, col("o_custkey").asc))
          .cast("long"))
      // widen BEFORE multiplying (the TWAP discipline): an Int64 i*c
      // product would silently wrap at scale and only then be widened
      ranked.agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"),
          sum(col("i").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
            .cast("decimal(38,0)").as("sum_ic"))
        .select(col("n"),
          (floor((lit(2d) * col("sum_ic").cast("double")
            / (col("n").cast("double") * col("sum_c").cast("double"))
            - (col("n").cast("double") + 1d) / col("n").cast("double"))
            * lit(1e6) + lit(0.5d)) / lit(1e6)).as("gini"))
    }),

    // Acoustic energy-delta fingerprint from REAL WAV decode: 32 frame
    // energies (exact s² sums), bit j = energy rose into frame j. The
    // oracle replays the waveform formula — agreement proves decoder +
    // fingerprint, the q140 pattern for audio.
    "q157_audio_fingerprint" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeWavTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.wavFingerprint(media, frames = 32)
    }),

    // Audio near-dup pairs: banded fingerprint LSH + exact Hamming —
    // near-dup now covered across ALL modalities (text q31/q33, embedding
    // q34, image q141, audio here) with one candidate discipline.
    "q158_audio_neardup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeWavTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.wavNearDupPairs(media, frames = 32, bands = 4,
        maxHamming = 1)
    }),

    // Corpus health dashboard: the per-source report a data team
    // publishes after every crawl — volume, quality-rule pass rate,
    // mean repetition, token budget — ALL scan-side per-row expressions
    // (q44's rules + the codegen'd top-gram kernel + token counts)
    // feeding ONE map-side-combined aggregation on source. Per-doc
    // ratios snap to scaled-BIGINT grid points before summation, so the
    // cross-doc means are order-free.
    "q159_corpus_health" -> ((s, dir) => {
      val g = TextAnalysis.gopherRules(col("text"))
      val st = graft.expressions.ShingleExpr.topGramStats(col("text"), 2)
      // per-doc top-bigram share on the 1e6 grid as a BIGINT (exact sum)
      val share6 = when(g.nWords >= 2,
        floor(st.getItem(1).cast("double") / st.getItem(0) * lit(1e6) + lit(0.5d))
          .cast("long"))
      t(s, dir, "documents")
        .select(col("source"), g.nWords.as("nw"), g.pass.as("ok"), share6.as("s6"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_tokens"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_quality_pass"),
          (floor(sum(when(col("ok"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double") * lit(1e6) + lit(0.5d)) / lit(1e6))
            .as("quality_rate"),
          (floor(sum(col("s6")).cast("double") / count(col("s6")).cast("double")
            + lit(0.5d)) / lit(1e6)).as("mean_top_share"))
    }),

    // Last-touch attribution: every purchase credited to the user's most
    // recent click within the 7-day window (else organic). ONE running
    // window carries the last click time forward — no self-join, no
    // as-of shuffle beyond the user key; the per-user ordered pass is
    // the q131/q135 plan family.
    "q160_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastClickUs = max(when(col("event_type") === "click",
        unix_micros(col("ts")))).over(w)
      t(s, dir, "events")
        .withColumn("__lc", lastClickUs)
        .filter(col("event_type") === "purchase")
        .withColumn("gap_us", unix_micros(col("ts")) - col("__lc"))
        .withColumn("attributed",
          col("gap_us").isNotNull && col("gap_us") <= 7L * 86400L * 1000000L)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
          (floor(sum(when(col("attributed"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double") * lit(1e6) + lit(0.5d)) / lit(1e6))
            .as("attribution_rate"),
          min(when(col("attributed"), col("gap_us"))).as("min_gap_us"),
          max(when(col("attributed"), col("gap_us"))).as("max_gap_us"))
    }),

    // Time-to-convert: per converting user, the first purchase AT OR
    // AFTER their first view and the gap in whole seconds (exact µs
    // integer math, floor division). Two user-keyed aggregates + one
    // dimension-sized join — never a per-event self-join.
    "q161_time_to_convert" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val fv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      e.filter(col("event_type") === "purchase")
        .join(fv, Seq("user_id"))
        .filter(col("ts") >= col("first_view"))
        .groupBy(col("user_id"))
        // epoch-µs longs, not raw timestamps: the harness events carry
        // ns precision that Tables.load truncates to Spark's µs domain
        .agg(max(unix_micros(col("first_view"))).as("first_view_us"),
          min(unix_micros(col("ts"))).as("first_purchase_us"))
        .withColumn("gap_s", expr(
          "(first_purchase_us - first_view_us) div 1000000"))
    }),

    // Manifest-pointer committed table end to end (the object-store-safe
    // T1): publish with per-file stats, re-append the same batch
    // (idempotence — must add 0 rows), file-granular deleteWhere,
    // compact, then read back through stats-pruned file skipping. The
    // oracle is the equivalent relational state of the original table —
    // any wrongly-skipped file, lost row, resurrected deleted row, or
    // double-read breaks the hash.
    "q162_manifest_commit" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-manifest-q162")
      val root = s"$tmp/tables"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("cents"),
          year(col("o_orderdate")).cast("long").as("anio"))
      etl.ManifestTable.publish(s, root, Map("orders" -> orders),
        Map("orders" -> "anio"))
      val appended = etl.ManifestTable.appendNew(s, root, "orders", orders,
        Seq("o_orderkey"), Some("anio"))
      require(appended == 0L, s"idempotent re-append added $appended rows")
      etl.ManifestTable.deleteWhere(s, root, "orders",
        col("o_orderpriority") === "1-URGENT", Some("anio"))
      etl.ManifestTable.compact(s, root, "orders", statsCol = Some("anio"))
      val out = etl.ManifestTable
        .readPruned(s, root, "orders", "anio", 1995L, 1996L)
        .groupBy(col("anio"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        // materialize before tearing the root down: the returned frame
        // must not depend on the temp files
        .localCheckpoint()
      etl.ManifestTable.vacuum(s, root)
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // Bloom-manifest point lookup: per-file Bloom filters on a content
    // digest let an equality probe open only might-contain files — the
    // skip range stats can never give (the digest is uncorrelated with
    // the id-hash file layout). Blooms have no false negatives and the
    // predicate is re-applied, so the oracle — the same lookup replayed
    // relationally — breaks the hash on any wrongly-skipped file.
    "q181_bloom_point_lookup" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-manifest-q181")
      val root = s"$tmp/tables"
      val docs = t(s, dir, "documents").withColumn("digest", md5(col("text")))
      etl.ManifestTable.publish(s, root,
        Map("documents" -> docs.repartition(8, col("doc_id"))))
      etl.ManifestTable.indexBloom(s, root, "documents", "digest",
        fpp = 0.001)
      val probe = docs.filter(col("doc_id") === 42L)
        .select("digest").as[String].head()
      val hit = etl.ManifestTable
        .readPrunedEq(s, root, "documents", "digest", probe)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val out = hit.localCheckpoint()
      val (kept, total) = etl.ManifestFileIndex.filesKept(hit)
      require(kept >= 1L && total == 8L,
        s"bloom probe must keep the hit file ($kept/$total)")
      etl.ManifestTable.vacuum(s, root)
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // Sort-free temperature sampling (the 100 TB path of q92): stratum
    // membership is a scan predicate h32(text) < floor(q·2^32/n) — no
    // window, no sort, binomially-approximate quotas. The oracle replays
    // the integer threshold rule exactly (HUGEINT floor division), so
    // the kept SET matches row for row, not just in expectation.
    "q163_hash_threshold_sample" -> ((s, dir) => {
      operators.CorpusMix.hashThresholdSample(t(s, dir, "documents"),
          "lang", "text", "doc_id", alpha = 0.5, budgetNum = 3, budgetDen = 5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_doc_id"))
    }),

    // A4 duplicate-group flagging + P9 conditional rewrite + P10 templating.
    "q10_dup_flag_rewrite" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val withN = c.withColumn("grp_n",
        count(lit(1)).over(Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))))
      withN.withColumn("email",
          when(col("grp_n") > 1, CleaningOps.placeholderEmail(col("c_custkey")))
            .otherwise(lower(col("c_name"))))
        .select(col("c_custkey"), col("email"), col("grp_n"))
    }),

    // A6 surrogate-key generation (IDENTITY replacement): dense, stable.
    "q11_surrogate_keys" -> ((s, dir) => {
      Dimensions.surrogateKeys(t(s, dir, "region"), "r_name", "id", offset = 100L)
        .select(col("r_name"), col("id"))
    }),

    // ---- P-family: projections / filters / scalar mutation (SURVEY §2.2) ----

    // P1/P2/P3 + per-row arithmetic; filter pushed to parquet scan.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 20) && col("l_discount") > 0.02)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
    }),

    // P6/P8 prefix-strip + numeric coerce (limpiar_id): garbage -> null.
    "q12_clean_id_coerce" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.select(col("c_custkey"),
        CleaningOps.cleanId(concat(lit("C"), col("c_custkey")), "C").as("cleaned_id"),
        CleaningOps.coerceLong(regexp_replace(col("c_name"), "^Customer#", "")).as("name_id"),
        CleaningOps.coerceLong(col("c_mktsegment")).as("garbage_id"))
    }),

    // P7 date parse with coerce -> null -> drop.
    "q13_date_coerce" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          CleaningOps.coerceTimestamp(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("parsed"),
          CleaningOps.coerceTimestamp(col("o_orderpriority")).as("bad"))
        .filter(col("parsed").isNotNull)
    }),

    // P12 CHECK-range validation split (valid vs quarantined counts).
    "q14_check_range" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("status",
          when(CleaningOps.checkRange(col("l_linenumber"), 1, 5), lit("valid"))
            .otherwise(lit("out_of_range")))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // S5 partition-column derivation (year buckets, as the partitioned sink).
    "q15_partition_year" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("anio"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
    }),

    // ---- J-family: joins (SURVEY §2.4) ----

    // J1 broadcast lookup join (dict .map analog) + agg.
    "q03_lookup_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // J3 semi join: FK-validity filtering.
    "q04_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // J2 anti join: the idempotent-load "only new rows" predicate
    // (customers with no urgent order — non-empty at every SF).
    "q05_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // J4+P10: set-difference -> placeholder synthesis.
    "q09_except_placeholders" -> ((s, dir) => {
      val required = t(s, dir, "customer").select(col("c_custkey").as("id"))
      val existing = t(s, dir, "customer").filter(col("c_acctbal") >= 0)
        .select(col("c_custkey").as("id"))
      required.except(existing)
        .select(col("id"),
          CleaningOps.placeholderName(col("id")).as("nombre"),
          CleaningOps.placeholderEmail(col("id")).as("email"))
    }),

    // ---- sort / top-k / window (engine idiom; SURVEY §2.6) ----

    // Deterministic global top-k with rank. orderBy().limit(k) plans as
    // TakeOrderedAndProject — a per-partition top-k merged on the driver —
    // not a single-partition global sort; the rank window then runs over
    // only the k surviving rows (partitionBy(lit) keeps it one bounded
    // task without the unpartitioned-window plan).
    "q16_topk" -> ((s, dir) => {
      val top = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
      val w = Window.partitionBy(lit(0))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      top.withColumn("rn", row_number().over(w).cast("long"))
        .select("rn", "o_orderkey", "o_custkey", "o_totalprice")
    }),

    // Running windowed aggregation per key.
    "q17_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
    }),

    // Grouped top-N (window rank within group, the scalable per-group top-k).
    "q18_grouped_topn" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")
    }),

    // Hierarchical aggregation (rollup) over the fact table.
    "q19_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // Exact percentiles + distinct count per group.
    "q20_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_quantity"), lit(0.25)), 4).as("p25"),
          round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50"),
          round(percentile(col("l_quantity"), lit(0.75)), 4).as("p75"),
          countDistinct(col("l_partkey")).as("n_parts"))
    }),

    // As-of join: each event picks up the most recent prior order of the
    // same customer (composed from union + running last(); one shuffle).
    "q21_asof_join" -> ((s, dir) => {
      operators.AsOfJoin.asof(
        t(s, dir, "events"), t(s, dir, "orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightCols = Seq("o_orderkey", "o_totalprice"), rightTieBreak = "o_orderkey")
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
    }),

    // Salted join: identical result set to the plain join, skew-proof plan.
    "q22_salted_join" -> ((s, dir) => {
      operators.SkewJoin.saltedJoin(
        t(s, dir, "lineitem"), t(s, dir, "part"), "l_partkey", "p_partkey")
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }),

    // Bucketed interval join (no equi key): events counted into 7-day
    // windows anchored at each distinct event day (every event lands in
    // ~7 overlapping windows). A raw range predicate would plan a
    // nested-loop/cartesian join; the operator derives bucket equi keys
    // from time and filters exactly inside buckets.
    "q64_range_join" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .select(col("ts").cast("date").as("window_start")).distinct()
        .withColumn("start_s", unix_timestamp(col("window_start")))
        .withColumn("end_s", col("start_s") + lit(7L * 86400))
      val ev = t(s, dir, "events")
        .select(col("value"), unix_timestamp(col("ts")).as("ts_s"))
      operators.RangeJoin.intervalJoin(ev, days, "ts_s", "start_s", "end_s",
          bucket = 7L * 86400)
        .groupBy(col("window_start"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // Deterministic content-hash stratified sampling — the production
    // pattern for stable training-data sampling (same rows survive every
    // run, any engine): keep a row iff the md5 of its key is below the
    // stratum's hex threshold (A~10%, N~25%, else 50%).
    "q65_hash_sample" -> ((s, dir) => {
      val h = substring(md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"))), 1, 4)
      val keep = when(col("l_returnflag") === "A", h < "199a")
        .when(col("l_returnflag") === "N", h < "4000")
        .otherwise(h < "8000")
      t(s, dir, "lineitem").filter(keep)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // Unpivot/melt surface (pivot's inverse — wide measures to long
    // (measure, value) rows via the native unpivot API, then aggregated).
    "q102_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(round(sum(col("val")), 2).as("total"))
    }),

    // Pivot surface (wide conditional aggregation through the pivot API).
    "q66_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // Scalar subquery (decorrelated by Catalyst): customers above the
    // global average balance.
    "q25_scalar_subquery" -> ((s, dir) => {
      Engine.sql(s, dir,
        """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
          |FROM customer
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)""".stripMargin)
    }),

    // String-function surface (incl. edit distance, the fuzzy-match
    // primitive behind name-level entity resolution).
    "q26_string_funcs" -> ((s, dir) => {
      t(s, dir, "region").select(
        col("r_name"),
        lower(col("r_name")).as("lo"),
        substring(col("r_name"), 1, 3).as("pre3"),
        length(col("r_name")).cast("long").as("len"),
        regexp_replace(col("r_name"), "[AEIOU]", "_").as("devowel"),
        levenshtein(col("r_name"), lit("EUROPE")).cast("long").as("dist_europe"),
        reverse(col("r_name")).as("rev"))
    }),

    // Datetime-function surface over the fact's date column.
    "q28_datetime_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .agg(count(lit(1)).as("n"),
          min(dayofmonth(col("o_orderdate"))).as("min_dom"),
          max(month(col("o_orderdate"))).as("max_month"),
          countDistinct(date_trunc("week", col("o_orderdate"))).as("n_weeks"))
    }),

    // CUBE: all grouping-set combinations over two dimensions.
    "q27_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // Conditional aggregation (pivot-by-CASE): status counts per segment.
    "q29_conditional_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
          round(avg(when(col("o_orderstatus") === "F", col("o_totalprice"))), 2).as("avg_f_price"))
    }),

    // Column profiling (data-quality pass): nulls/ndv/min/max per column.
    "q23_profile" -> ((s, dir) => {
      operators.Profiler.profile(t(s, dir, "orders"),
        Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
    }),

    // Approximate aggregates (HLL distinct + approx percentile), graded
    // as a HARD correctness row via the bounded-error pattern: exact and
    // approx compute in the SAME query and the output is per-group
    // within-tolerance booleans, which the oracle pins to TRUE. (The
    // exact sides exist only to grade the sketches — production runs the
    // approx alone; tolerances are 3x the configured rsd for HLL and a
    // 5% relative band for the 10k-bucket percentile.)
    // PLAN NOTE: the exact NDV deliberately runs as its OWN two-level
    // distinct aggregation and joins back (3 rows, broadcast). Folding
    // countDistinct into the sketch aggregate triggers Spark's
    // distinct-agg rewrite, whose first level groups by (returnflag,
    // partkey) — building an HLL and a QuantileSummaries buffer PER
    // DISTINCT KEY PAIR (~200k sketches at sf0.1, 6x the runtime; the
    // buffers scale with NDV, an executor-memory hazard at 100 TB).
    // Two linear scans beat one quadratic-state scan.
    "q24_approx_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ndvExact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("ndv_exact"))
      li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ndv_approx"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p50_approx"),
          expr("percentile(l_quantity, 0.5D)").as("p50_exact"))
        .join(broadcast(ndvExact), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          ((abs(col("ndv_approx") - col("ndv_exact")).cast("double")
            / col("ndv_exact").cast("double")) <= 0.06d).as("ndv_ok"),
          ((abs(col("p50_approx") - col("p50_exact"))
            / col("p50_exact")) <= 0.05d).as("p50_ok"))
    }),

    // Sketch-pruned exact heavy hitters: Misra-Gries candidate pass
    // (custom TypedImperativeAggregate, O(k) state, mergeable) + exact
    // count of candidates only. Deterministic output == the plain
    // GROUP BY/HAVING oracle.
    "q68_heavy_hitters" -> ((s, dir) => {
      operators.HeavyHitters.exact(t(s, dir, "events"), "user_id",
        minShare = 0.008, k = 256)
    }),

    // JDBC parity (reference S2-S4 against a live RDBMS): double
    // conditional-append into embedded Derby — the second append must
    // land 0 rows — then read back over JDBC and aggregate. The oracle
    // computes the same aggregate from the parquet table, so a broken
    // anti-join (doubled rows) or a lossy JDBC type roundtrip breaks the
    // hash.
    "q76_jdbc_roundtrip" -> ((s, dir) => {
      val db = java.nio.file.Files.createTempDirectory("graft-derby-q76")
      val url = s"jdbc:derby:$db/db;create=true"
      val nation = t(s, dir, "nation")
      sources.JdbcSources.appendNew(s, nation, url, "nation", Seq("n_nationkey"))
      sources.JdbcSources.appendNew(s, nation, url, "nation", Seq("n_nationkey"))
      val out = sources.JdbcSources.readTable(s, url, "nation")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey")).as("sum_key"))
        .localCheckpoint() // materialize before the database goes away
      try { // single-db shutdown "succeeds" by throwing 08006
        java.sql.DriverManager.getConnection(s"jdbc:derby:$db/db;shutdown=true")
      } catch { case _: java.sql.SQLException => () }
      etl.IncrementalLoad.deleteRecursively(db)
      out
    }),

    // Z-order (Morton) curve values — the clustered-layout key. The
    // codegen'd bit-interleave is hash-checked against an unrolled
    // 32-term bit-arithmetic oracle, so every bit position is proven.
    "q89_zorder" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        etl.DataLayout.zorder(col("p_partkey"), col("p_size")).as("z"))
    }),

    // Data skipping end to end: publish lineitem z-order-clustered by
    // (l_partkey, l_suppkey) with per-file stats on both, read it back
    // with a plain range filter the manifest index skips files by,
    // aggregate. The oracle is a plain filtered aggregate over the
    // original table — any file wrongly skipped or double-read breaks
    // the hash.
    "q90_zorder_skipping" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-zorder-q90")
      val root = s"$tmp/tables"
      etl.ManifestTable.publish(s, root,
        Map("lineitem" -> operators.ZOrder.cluster(t(s, dir, "lineitem"),
          Seq("l_partkey", "l_suppkey"), 16)),
        statsCols = Map("lineitem" -> "l_partkey"),
        extraStatsCols = Map("lineitem" -> Seq("l_suppkey")))
      val out = etl.ManifestTable.read(s, root, "lineitem")
        .filter(col("l_partkey").between(100L, 299L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .localCheckpoint() // materialize before the clustered copy goes away
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // TF-IDF top terms per document over the inverted index (tf shuffle on
    // (doc,term), df on term, corpus size as a broadcast one-row frame);
    // rank over the 6dp-rounded score so ordering is engine-portable.
    "q87_tfidf" -> ((s, dir) => {
      operators.TextIndex.tfidfTopTerms(t(s, dir, "documents"), "text", "doc_id", k = 3)
    }),

    // BM25 ranked retrieval for a fixed bag-of-terms query; posting lists
    // filtered before aggregation, top-k via sort+limit (never a global
    // window), rank assigned over the k survivors.
    "q88_bm25" -> ((s, dir) => {
      operators.TextIndex.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        Seq("spark", "vector", "stream"), k = 10)
    }),

    // Blocked fuzzy entity resolution: candidate part-name pairs within
    // edit distance 3, blocked on the noun (second token) so the self-join
    // never goes all-pairs. Runs over the 64-value distinct-name dimension,
    // not the 2000-row fact.
    "q86_fuzzy_match" -> ((s, dir) => {
      // coalesce the block key to '': split(...).getItem(1) is NULL for
      // single-token names (null join keys never pair), while the oracle's
      // split_part returns '' and still blocks them together — latent with
      // TPC-H p_name (always multi-word) but an engine-parity divergence
      // on other inputs (same fix as q145).
      EntityResolution.fuzzyPairs(t(s, dir, "part"), "p_name",
        coalesce(split(col("name"), " ").getItem(1), lit("")), maxDist = 3)
    }),

    // ---- change-data-capture / slowly-changing dimensions ----

    // CDC apply: orders re-read as a change log over customer state
    // (seq = orderkey, latest 'P'-status change deletes the key). The
    // max(struct) collapse keeps shuffle volume at ~|keys| via map-side
    // partial aggregation; the oracle replays it as a row_number window.
    "q84_cdc_apply" -> ((s, dir) => {
      val ch = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "P", lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice").as("price"),
        col("o_orderpriority").as("priority"))
      operators.ChangeDataCapture.applyChangeLog(ch, Seq("custkey"), Seq("seq"), "op")
        .select(col("custkey"), col("seq"), round(col("price"), 2).as("price"),
          col("priority"))
    }),

    // SCD Type-2: per-customer order-priority history with half-open
    // [valid_from, valid_to) validity and is_current on the open run.
    // Events pre-aggregated to one per (key, day) — max_by on both
    // engines — because ties in ts would make run boundaries
    // order-dependent.
    "q85_scd2_history" -> ((s, dir) => {
      val ev = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"), col("o_orderdate").as("ts"))
        .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("priority"))
      operators.ChangeDataCapture.scd2(ev, Seq("custkey"), "ts", Seq("priority"))
    }),

    // Full SQL surface through Catalyst (same text runs on DuckDB).
    "q99_sql_engine" -> ((s, dir) => Engine.sql(s, dir, SqlQ3)),

    // Custom Catalyst expressions as SQL functions (registered via
    // SparkSessionExtensions in Tables.tune): SQL-only users call
    // shingles() directly; the oracle recomputes the distinct-shingle
    // count with portable ANSI shingling.
    "q67_sql_extensions" -> ((s, dir) => Engine.sql(s, dir,
      """SELECT doc_id, CAST(size(shingles(text, 3)) AS BIGINT) AS n_shingles
        |FROM documents""".stripMargin)),

    // ---- dedup suite (training-data pipeline; BASELINE north star) ----

    // Near-dup pairs resolved to clusters (min-label propagation) with a
    // deterministic survivor per cluster. Oracle: recursive-CTE connected
    // components over the exact-Jaccard pairs (recall 1.0 cross-check).
    "q37_dedup_resolve" -> ((s, dir) => {
      Dedup.resolve(Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id",
        bands = 16, rowsPerBand = 2, threshold = 0.35))
    }),

    // The COMPLETE corpus-preparation pipeline in one call (quality →
    // repetition → exact dedup → per-source cap → PII scrub), reduced to
    // per-source stats so the oracle replays every stage.
    "q83_corpus_prepare" -> ((s, dir) => {
      operators.CorpusPipeline.prepare(t(s, dir, "documents"),
          "text", "doc_id", "source",
          minTokens = 10, maxTopShare = 0.2, perSourceCap = 50)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("clean_text")).cast("long")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
    }),

    // Incremental dedup against a persisted LSH index (the continuous-
    // ingestion shape): index the "historical" 90% once, then the "new"
    // 10% batch joins its banded keys against the index — corpus
    // signatures are never recomputed. Oracle = exact cross Jaccard
    // pairs between the two splits (same empirical-recall caveat as q31).
    "q81_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      val idxTmp = java.nio.file.Files.createTempDirectory("graft-mh-idx")
      val root = idxTmp.resolve("index").toString
      Dedup.minhashIndexWriteVersioned(old, "text", "doc_id", root,
        bands = 16, rowsPerBand = 2, shingleN = 3)
      val out = Dedup.incrementalPairsVersioned(s, fresh, old, "text",
          "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3,
          threshold = 0.35)
        .localCheckpoint() // materialize, then drop the on-disk index
      etl.IncrementalLoad.deleteRecursively(idxTmp)
      out
    }),

    // Same resolution through large-star/small-star contraction
    // (O(log n) rounds vs O(diameter)) — same clusters, same oracle
    // shape, so the alternative algorithm is hash-checked too.
    "q78_dedup_resolve_star" -> ((s, dir) => {
      Dedup.clustersStar(Dedup.minhashPairs(t(s, dir, "documents"), "text",
          "doc_id", bands = 16, rowsPerBand = 2, threshold = 0.35))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("survivor_id"))
    }),

    // Exact dedup by content digest (shuffles 16-byte digest, not text).
    "q30_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
    }),

    // MinHash+LSH near-dup pairs (banded signatures, bucket join, Jaccard
    // verify). Oracle: the exact-Jaccard pair set — verified LSH pairs
    // must equal it (recall 1.0 at these settings), so the oracle is a
    // per-round recall check.
    "q31_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id",
        bands = 16, rowsPerBand = 2, threshold = 0.35)
    }),

    // SimHash near-dup pairs (4x16-bit block LSH + Hamming verify).
    // Oracle: ALL-PAIRS Hamming <= 3 over DuckDB-replayed signatures —
    // provably equal to the LSH output (not an empirical-recall check
    // like q31's): a pair within Hamming 3 of a 64-bit hash differs in
    // at most 3 of the 4 blocks, so at least one block matches and LSH
    // recall is 1.0 BY PIGEONHOLE at these settings.
    "q32_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
    }),

    // Exact n-gram Jaccard via inverted-index join (pruned postings).
    "q33_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.35)
    }),

    // Embedding-cosine near-dup via hyperplane LSH + exact verify.
    "q34_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "embedding", "vec_id",
        dim = 64, planes = 4, threshold = 0.40)
    }),

    // The complete dedup call: surviving corpus after near-dup removal.
    "q39_dedup_corpus" -> ((s, dir) => {
      Dedup.dedupCorpus(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.8)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // ---- similarity search ----

    // Brute-force cosine top-k (exact baseline; queries broadcast).
    "q35_sim_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 10)
    }),

    // LSH-bucketed ANN top-k (multi-probe; the 100 TB path).
    "q36_sim_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", dim = 64, k = 10, planes = 4)
    }),

    // IVF ANN top-k (coarse centroid lists + nprobe search).
    "q38_sim_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 10, nlist = 16, nprobe = 4)
    }),

    // ANN recall@k as a correctness row: exact top-k per query point is
    // HASH-CHECKED (the oracle replays it), and both approximate paths
    // (LSH at probeRadius=2, IVF) are graded CONTINUOUSLY — recall =
    // |approx ∩ exact|/k against floors pinned TRUE at two granularities:
    // per-query (LSH >= 0.4, IVF >= 0.5) and corpus-aggregate over all
    // query points (LSH >= 0.7, IVF >= 0.8; measured minima across
    // sf0.001/0.01/0.1 are 0.78/0.86 with per-query minima 0.5/0.7).
    // This de-fangs the documented oracle fragility of grading LSH by
    // set-equality (any future sub-1.0 recall is a tuning datum, not a
    // false failure — while a real recall collapse still breaks the hash).
    "q164_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      // consumed three times (lsh hits, ivf hits, the board) — cut so
      // the brute-force pass runs once
      val exact = operators.Lineage.cut(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("vec_id")))
      val lsh = Similarity.lshTopK(e, qs, "vec_id", "embedding",
          dim = 64, k = 10, planes = 4, probeRadius = 2)
        .select(col("query_id"), col("vec_id"))
      val ivf = Similarity.ivfTopK(e, qs, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("vec_id"))
      val lshHits = exact.join(lsh, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("lsh_hits"))
      val ivfHits = exact.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("ivf_hits"))
      exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          array_join(transform(array_sort(collect_list(col("vec_id"))),
            _.cast("string")), "|").as("exact_topk"))
        .join(lshHits, Seq("query_id"), "left")
        .join(ivfHits, Seq("query_id"), "left")
        .withColumn("lsh_hits", coalesce(col("lsh_hits"), lit(0L)))
        .withColumn("ivf_hits", coalesce(col("ivf_hits"), lit(0L)))
        // corpus-aggregate recall: 5 query points — the unpartitioned
        // window is a single-row-per-query reduce, not a data-sized sort
        .withColumn("lsh_total", sum(col("lsh_hits")).over(Window.partitionBy()))
        .withColumn("ivf_total", sum(col("ivf_hits")).over(Window.partitionBy()))
        .withColumn("k_total", sum(col("k")).over(Window.partitionBy()))
        .select(col("query_id"), col("k"), col("exact_topk"),
          (col("lsh_hits").cast("double") / col("k").cast("double")
            >= 0.4d).as("lsh_recall_ok"),
          (col("ivf_hits").cast("double") / col("k").cast("double")
            >= 0.5d).as("ivf_recall_ok"),
          (col("lsh_total").cast("double") / col("k_total").cast("double")
            >= 0.7d).as("lsh_corpus_ok"),
          (col("ivf_total").cast("double") / col("k_total").cast("double")
            >= 0.8d).as("ivf_corpus_ok"))
    }),

    // KMV (bottom-k) quantile sketch vs exact percentiles, bounded-error
    // graded like q24: the exact quantiles are HASH-CHECKED against the
    // oracle, the sketch quantiles must sit within the tolerance band
    // (booleans pinned TRUE). The sketch's kept set is a pure function of
    // the data (k smallest row-id hashes), so unlike percentile_approx the
    // answer is bit-stable across partitioning/merge order — spec-proven.
    "q165_kmv_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val rowId = col("l_orderkey") * 8 + col("l_linenumber")
      li.groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50_exact"),
          round(percentile(col("l_quantity"), lit(0.9)), 4).as("p90_exact"),
          expressions.KmvQuantileAgg.kmvQuantiles(col("l_quantity"), rowId,
            k = 1024, probs = Seq(0.5, 0.9)).as("kmv"))
        .select(col("l_returnflag"), col("p50_exact"), col("p90_exact"),
          // k=1024 -> ~1.6% rank error; measured max relative error across
          // sf0.001/0.01/0.1 is 4.0%, so the 10% band has 2.5x margin
          (abs(element_at(col("kmv"), 1) - col("p50_exact"))
            / col("p50_exact") <= 0.10d).as("p50_ok"),
          (abs(element_at(col("kmv"), 2) - col("p90_exact"))
            / col("p90_exact") <= 0.10d).as("p90_ok"))
    }),

    // int8 scalar quantization of the embeddings: per-vector stats over
    // the quantized codes (sums/norms are order-independent integers, so
    // the oracle mirrors the exact double math without list-order risk).
    "q82_embed_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          size(col("v")).cast("long").as("n_dims"),
          round(col("scale"), 6).as("scale"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
          aggregate(col("qv"), lit(0L), (a, x) => a + (x * x).cast("long"))
            .as("q_norm2"))
    }),

    // IVF with k-means-trained centroids: two DataFrame-native Lloyd's
    // iterations (assign via the literal centroid matrix, per-dimension
    // means rounded to 6dp for engine portability), then the same
    // nprobe search. The oracle replays BOTH iterations as unrolled CTEs
    // — training and search are hash-checked end to end.
    "q77_sim_ivf_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 10, nlist = 16, nprobe = 4, trainIters = 2)
    }),

    // Semantic dedup (SemDeDup shape): k-means clusters confine the
    // pairwise-cosine comparison, then any vector with a smaller-id
    // near-duplicate (cosine >= 0.38) in its cluster is marked dropped.
    // The oracle replays the full pipeline — both Lloyd's iterations,
    // assignment, within-cluster pairs — as unrolled CTEs.
    "q91_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        nlist = 16, trainIters = 2, tau = 0.38)
    }),

    // Temperature-weighted corpus mixing: rebalance the language mix to
    // 3/5 of the corpus with alpha=0.5 (count^0.5 weighting) — integer
    // quotas from a driver-collected stratum table, hash-order selection.
    // The output aggregates per stratum so the oracle proves the SAME
    // rows were kept (sum of ids/chars), not just the same counts.
    "q92_temperature_mix" -> ((s, dir) => {
      operators.CorpusMix.temperatureSample(t(s, dir, "documents"),
          "lang", "text", "doc_id", alpha = 0.5, budgetNum = 3, budgetDen = 5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_doc_id"))
    }),

    // Sequence packing: next-fit documents into 2048-char context windows,
    // 8 shards. Per-doc (doc_id, shard, bin, offset) assignment — the
    // whole packing (incl. writer offsets) is hash-checked row by row
    // against a recursive-CTE replay.
    "q93_sequence_pack" -> ((s, dir) => {
      operators.SequencePack.packNextFit(t(s, dir, "documents"),
        "doc_id", "n_chars", capacity = 2048L, nShards = 8)
    }),

    // Leakage-guarded train/val split: ~10% hash split, then near-dup
    // clusters (minhash pairs -> star-contraction components) moved whole
    // to their representative's side. Oracle replays the split over
    // exact-Jaccard components (the q37 recall-1.0 cross-check shape:
    // a future mismatch at new data may mean LSH recall < 1.0, not a bug).
    "q94_leakage_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.CorpusMix.leakageGuardedSplit(d, "text", "doc_id",
          Dedup.minhashPairs(d, "text", "doc_id",
            bands = 16, rowsPerBand = 2, threshold = 0.35))
        .withColumnRenamed("id", "doc_id")
    }),

    // Unigram-LM quality scoring: top-16 vocab (the corpus has 31 distinct
    // terms, so OOV genuinely fires), per-doc mean token log-prob computed
    // by a zero-shuffle literal-map expression.
    "q95_unigram_lm_score" -> ((s, dir) => {
      operators.TextIndex.unigramScore(t(s, dir, "documents"),
        "text", "doc_id", vocabSize = 16)
    }),

    // Span-level duplicate text (ExactSubstr relaxation): per-doc fraction
    // of 10-token windows that appear in another document. Oracle uses the
    // gram STRINGS where Spark shuffles 64-bit hashes — counts agree
    // unless xxhash64 collides inside one document's spans (~n²/2^64).
    "q96_dup_spans" -> ((s, dir) => {
      Dedup.dupSpanStats(t(s, dir, "documents"), "text", "doc_id",
        spanN = 10, maxFraction = 0.5)
    }),

    // Uniform mixing with epoch upsampling: alpha=0 at full budget gives
    // every language an equal quota — the minority languages repeat
    // (epoch 2) while the majority downsamples, the rare-source-epochs
    // mixture schedule.
    "q97_mix_epochs" -> ((s, dir) => {
      operators.CorpusMix.temperatureEpochs(t(s, dir, "documents"),
          "lang", "text", "doc_id", alpha = 0.0, budgetNum = 1, budgetDen = 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).as("max_epoch"),
          sum(col("doc_id")).as("sum_doc_id"))
    }),

    // Star-schema composite (TPC-H Q3 shape, adapted to this schema):
    // selective dim filter -> broadcast, two big facts shuffle once on
    // the join key, top-10 unshipped-revenue orders via sort+limit.
    "q98_star_topk_revenue" -> ((s, dir) => {
      val cutoff = to_timestamp(lit("1998-01-01"))
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    }),

    // The COMPLETE corpus-to-training-sequences dataflow in one query:
    // quality floor -> repetition filter -> exact dedup -> per-source cap
    // -> PII scrub (CorpusPipeline.prepare) -> temperature mixing over
    // the CLEANED corpus -> next-fit packing into context windows. The
    // oracle replays every stage including the recursive packing fold.
    "q100_corpus_to_sequences" -> ((s, dir) => {
      // cut `prepared`: temperatureSample consumes it ~4x (stratum
      // counts + the pruned-rank scans), and each consumer would
      // otherwise re-run the whole quality+dedup+cap+scrub pipeline
      // (guide §1.2 pass counting; the survivor frame is small)
      val prepared = operators.Lineage.cut(operators.CorpusPipeline.prepare(
        t(s, dir, "documents"), "text", "doc_id", "source"))
      // cut `mixed`: consumed by BOTH the packer and the lang join
      val mixed = operators.Lineage.cut(
        operators.CorpusMix.temperatureSample(prepared,
          "lang", "clean_text", "doc_id", alpha = 0.5,
          budgetNum = 3, budgetDen = 5)
        .withColumn("w", length(col("clean_text")).cast("long")))
      operators.SequencePack.packNextFit(mixed, "doc_id", "w", 2048L, 8)
        .join(mixed.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select("doc_id", "lang", "shard", "bin", "offset")
    }),

    // Writer/monitoring view of the packing: per-(shard, bin) doc count,
    // packed weight, and utilization.
    "q101_pack_manifest" -> ((s, dir) => {
      operators.SequencePack.binManifest(t(s, dir, "documents"),
        "doc_id", "n_chars", capacity = 2048L, nShards = 8)
    }),

    // ---- text analysis ----

    // Quality/statistics per document.
    "q40_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.digitRatio(col("text")).as("digit_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // Language-ID heuristic (stopword argmax) vs the labeled lang.
    "q41_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        col("lang").as("lang_label"))
    }),

    // Token counting: whitespace + BPE-ish regex proxy.
    "q42_token_count" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
    }),

    // Pretraining-filter quality rules (the public Gopher/C4-style
    // heuristics): word count band, mean word length band, symbol-to-word
    // ratio, repeated-segment fraction — each a pure expression, composed
    // into a keep/drop flag.
    // Per-source (per-domain) cap — the C4-style downsampling step that
    // stops one boilerplate-heavy domain from dominating the corpus: keep
    // at most K docs per source, chosen by a DETERMINISTIC content-hash
    // order (md5 then id tie-break) so the sample is run-stable and
    // engine-portable. Exact selection via the threshold-prune + boundary
    // -rank hybrid (CorpusMix.prunedStratumRank): the window sorts ~K
    // candidate rows per source, never a whole source's partition.
    "q49_per_source_cap" -> ((s, dir) => {
      operators.CorpusMix.perSourceCap(t(s, dir, "documents"),
          "source", "text", "doc_id", k = 50L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_doc"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Full Gopher repetition panel: top-{2,3,4}-gram occurrence shares in
    // ONE zero-shuffle pass (three per-row expressions over the same scan).
    "q79_repetition_multi" -> ((s, dir) => {
      import graft.expressions.ShingleExpr.topGramStats
      def share(n: Int) = {
        val st = topGramStats(col("text"), n)
        round(st.getItem(1).cast("double") / st.getItem(0), 6)
      }
      t(s, dir, "documents")
        .filter(size(TextAnalysis.tokens(col("text"))) >= 4)
        .select(col("doc_id"),
          share(2).as("top2_share"), share(3).as("top3_share"),
          share(4).as("top4_share"),
          (share(2) > lit(0.2) || share(3) > lit(0.18) || share(4) > lit(0.16))
            .as("repetitive"))
    }),

    "q44_quality_rules" -> ((s, dir) => {
      val g = TextAnalysis.gopherRules(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        g.nWords.as("n_words"), g.meanWordLen.as("mean_word_len"),
        g.symbolRatio.as("symbol_ratio"), g.dupSegRatio.as("dup_seg_ratio"),
        g.pass.as("quality_pass"))
    }),

    // Repetition filter (the Gopher top-n-gram-fraction rule): share of
    // all word bigram OCCURRENCES held by the single most frequent bigram
    // — high share = boilerplate/looped text. Docs under 2 tokens have no
    // bigrams and drop out. ZERO-shuffle plan: the per-document statistic
    // is computed by one per-row expression (scan → filter → project), not
    // explode + double groupBy — at corpus scale the (doc, bigram) shuffle
    // of the composed form dominates the whole rule.
    "q47_repetition" -> ((s, dir) => {
      val st = graft.expressions.ShingleExpr.topGramStats(col("text"), 2)
      t(s, dir, "documents")
        // docs with < 2 tokens have no bigrams (the expression's
        // short-text fallback would fabricate one) — drop them, as the
        // oracle's len >= 2 guard does
        .filter(size(TextAnalysis.tokens(col("text"))) >= 2)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          col("st").getItem(0).as("n_bigrams"),
          round(col("st").getItem(1).cast("double") / col("st").getItem(0), 6)
            .as("top_share"),
          (col("st").getItem(1).cast("double") / col("st").getItem(0) > 0.2)
            .as("repetitive"))
    }),

    // Benchmark decontamination (C4/GPT-3-style containment check): flag
    // corpus docs sharing >= 5 distinct 3-grams with the eval split
    // (doc_id % 20 == 0). Eval shingles broadcast; the shuffle carries
    // only matching (doc, hash) pairs.
    "q45_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contamination(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
        shingleN = 3, minOverlap = 5)
    }),

    // Bloom-pruned decontamination: the big-eval-set plan (scan-side
    // bloom prune -> shuffle-join exact verify) must produce EXACTLY the
    // q45 output — no false negatives is a bloom theorem, and the exact
    // join strips the false positives; the same exact oracle grades it.
    "q166_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationBloomPruned(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
        shingleN = 3, minOverlap = 5, fpp = 0.01)
    }),

    // Pseudonymization with referential integrity: both tables' ids become
    // salted sha256 tokens, the join runs ON THE TOKENS, and the oracle
    // joins the raw ids then tokenizes — identical output proves tokens
    // preserve exactly the raw join structure while no raw id survives.
    "q170_pseudonymize" -> ((s, dir) => {
      val salt = "graft2026"
      val c = operators.Privacy.pseudonymize(
        t(s, dir, "customer").filter(col("c_custkey") < 100)
          .select(col("c_custkey"), col("c_mktsegment")),
        Seq("c_custkey"), salt)
      val o = operators.Privacy.pseudonymize(
        t(s, dir, "orders").select(col("o_custkey")), Seq("o_custkey"), salt)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey").as("cust_token"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // Entity-coordinated sampling: sample the CUSTOMER universe by hash
    // threshold, then carry every dependent fact of the kept entities —
    // the consistent-downsample that keeps referential integrity intact
    // (a row-level sample of each table independently would orphan most
    // facts). Hash-threshold membership is a scan predicate; facts follow
    // by key semi-joins — no sort, no global pass.
    "q171_coordinated_sample" -> ((s, dir) => {
      val keepC = t(s, dir, "customer")
        .filter(substring(md5(concat(lit("cs:"),
          col("c_custkey").cast("string"))), 1, 4) < "1999")
        .select(col("c_custkey"))
      val keptOrders = t(s, dir, "orders")
        .join(keepC, col("o_custkey") === col("c_custkey"), "left_semi")
      val keptItems = t(s, dir, "lineitem")
        .join(keptOrders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
      val nC = keepC.agg(count(lit(1)).as("n_cust"))
      val nI = keptItems.agg(count(lit(1)).as("n_items"))
      keptOrders.agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5d).cast("long")).as("revenue_cents"))
        .crossJoin(broadcast(nC)).crossJoin(broadcast(nI))
    }),

    // Cross-source shingle overlap from KMV sketches: per source pair,
    // the sketch-estimated Jaccard next to the exactly-computed one.
    // The sketch path never builds a corpus-sized pair stage — one
    // map-side-combined O(k)-state aggregation, then sketch-only math.
    // Hashes are deterministic (FNV-1a via ShingleHashSetExpr), so the
    // oracle replays sketches AND estimates exactly: a sketch graded by
    // hard equality, not a tolerance band.
    "q173_kmv_overlap" -> ((s, dir) => {
      operators.CorpusOverlap.overlapReport(
        t(s, dir, "documents"), "text", "source", n = 3, k = 256)
    }),

    // Re-identification risk audit before a data release: per
    // (mktsegment, nation) quasi-group, k-anonymity (group size) and
    // l-diversity (distinct account-balance buckets) in ONE map-side
    // combined aggregation — the release gate a pseudonymized export
    // (q170) still needs, because quasi columns re-identify even when
    // ids are tokenized.
    "q174_k_anonymity" -> ((s, dir) => {
      operators.Privacy.kAnonymityAudit(
        t(s, dir, "customer")
          .withColumn("bal_bucket", floor(col("c_acctbal") / 1000.0d)),
        Seq("c_mktsegment", "c_nationkey"), "bal_bucket", k = 15, l = 5)
    }),

    // JSON-lines source round-trip with corrupt-line quarantine: documents
    // staged as json-lines, one garbage line injected, read back with the
    // DECLARED schema (S1 contract, json form). Every valid row must
    // round-trip byte-identically (oracle = the parquet table itself) and
    // the quarantine must catch EXACTLY the injected line (n_corrupt
    // pinned to 1) — proving bad input neither kills the job nor leaks
    // into the clean stream.
    "q169_json_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stage = s"${System.getProperty("java.io.tmpdir")}/graft-json-src-" +
        new java.io.File(dir).getName
      docs.write.mode("overwrite").json(stage)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(stage, "zz-corrupt.json"),
        "{this is not json".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // cache: Spark disallows projecting ONLY the corrupt-record column
      // from a lazily-parsed json scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
      // the quarantine branch needs the parsed frame materialized
      val read = sources.JsonSources.readJsonLines(s, stage, docs.schema).cache()
      val nCorrupt = sources.JsonSources.quarantined(read)
        .agg(count(lit(1)).as("n_corrupt"))
      val out = sources.JsonSources.valid(read).crossJoin(broadcast(nCorrupt))
        .localCheckpoint() // materialize before the staged copy goes away
      read.unpersist()
      etl.IncrementalLoad.deleteRecursively(java.nio.file.Paths.get(stage))
      out
    }),

    // Unicode normalization (no Spark builtin exists): combining marks
    // are injected into the text deterministically (a -> a+ACUTE,
    // e -> e+CIRCUMFLEX), then the custom codegen'd NormalizeTextExpr
    // must (1) NFC-compose them back to precomposed chars — proven by
    // the string AND its codepoint length matching DuckDB's
    // nfc_normalize — and (2) strip accents back to the original text.
    // This is the canonicalization step exact-dedup needs on
    // multilingual corpora: byte-different but visually identical
    // strings hash apart until normalized.
    "q176_unicode_normalize" -> ((s, dir) => {
      val dec = regexp_replace(regexp_replace(col("text"),
        "a", "a\u0301"), "e", "e\u0302") // decomposed: base + combining mark
      t(s, dir, "documents").select(
        col("doc_id"),
        expressions.NormalizeTextExpr.normalize(dec, "nfc").as("nfc_text"),
        length(expressions.NormalizeTextExpr.normalize(dec, "nfc")).as("nfc_len"),
        length(dec).as("dec_len"),
        (expressions.NormalizeTextExpr.normalize(dec, "strip_accents")
          === col("text")).as("roundtrip_ok"))
    }),

    // Partitioned ORC sink + pruned scan round-trip: documents staged as
    // ORC partitioned by source, read back filtered to two partitions.
    // Every surviving row must match the parquet truth byte for byte
    // (S5's partitioned-sink contract through a second columnar format),
    // and FormatSourcesSpec asserts the source filter prunes partitions
    // rather than scanning them.
    "q175_orc_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stage = s"${System.getProperty("java.io.tmpdir")}/graft-orc-src-" +
        new java.io.File(dir).getName
      sources.FormatSources.writeOrcPartitioned(docs, stage, "source")
      val out = sources.FormatSources.readOrc(s, stage)
        .filter(col("source").isin("src1", "src2"))
        .select("doc_id", "text", "lang", "n_chars", "source")
        .localCheckpoint() // materialize before the staged copy goes away
      etl.IncrementalLoad.deleteRecursively(java.nio.file.Paths.get(stage))
      out
    }),

    // Model-based quality scoring: a fitted linear model applied per-doc
    // (weights are a model artifact, here literals); the Spark side is
    // scan-only codegen — feature exprs -> dot product -> sigmoid, zero
    // shuffle. The oracle replays the identical arithmetic.
    "q167_quality_model" -> ((s, dir) => {
      operators.QualityModel.score(t(s, dir, "documents"), "text",
        weights = Seq(0.35, 4.0, -8.0, -3.0), bias = -1.6)
        .select(col("doc_id"), col("quality_prob"), col("kept"))
    }),

    // Trained quality scoring END TO END: logistic regression fit on the
    // corpus itself (label: lang = 'en'), then scan-side scoring with the
    // fitted weights. The exact-integer gradient (order-free long-summed
    // contributions + one fixed IEEE derivation per step) makes training
    // bit-reproducible, so the oracle replays all 5 iterations in SQL
    // and must land on identical weights before scoring — the whole FIT
    // is hash-graded, not just the final projection.
    "q182_trained_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("__y",
        when(col("lang") === "en", 1).otherwise(0))
      val (w, b) = operators.QualityModel.train(labeled, "text", "__y",
        iters = 5, lr = 0.5)
      operators.QualityModel.score(docs, "text", w, b)
        .select(col("doc_id"), col("quality_prob"), col("kept"))
    }),

    // Count-Min sketch frequency estimation: one mergeable aggregation
    // builds the depth x width grid (scan-side codegen'd bucketing, the
    // aggregate only increments), then every supplier key is probed
    // against the collected sketch scan-side. est >= exact always (the
    // one-sided CMS guarantee); the oracle rebuilds the identical grid
    // relationally and takes the same min over cells.
    "q183_cms_counts" -> ((s, dir) => {
      import graft.expressions.CountMin
      val d = 4; val w = 64
      // the sketch build is 4 md5 probes per row on an otherwise
      // narrow scan — fan it across cores; keying by l_suppkey also
      // pre-clusters the exact groupBy (same exchange, guide §2.4)
      val li = Tables.fanOut(
        t(s, dir, "lineitem").select(col("l_suppkey")), col("l_suppkey"))
      val sketch = li.agg(CountMin.countMin(col("l_suppkey"), d, w).as("sk"))
        .head().getSeq[Long](0).toArray
      val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("exact_cnt"))
      exact
        .withColumn("est_cnt",
          CountMin.estimate(typedLit(sketch), col("l_suppkey"), d, w))
        .withColumn("overcount", col("est_cnt") - col("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_suppkey").asc)
        .limit(20)
    }),

    // Interpolated Kneser-Ney bigram LM scoring: word-order-sensitive
    // corpus-typicality (the CCNet perplexity-filter shape, one level up
    // from q95's unigram model).
    "q184_kn_bigram_lm" -> ((s, dir) => {
      operators.NgramLm.knBigramScore(t(s, dir, "documents"),
        "text", "doc_id", discount = 0.75)
    }),

    // DSIR importance selection: weight every document by the hashed-
    // unigram log-likelihood ratio of the in-pool English slice (the
    // target) against the whole pool, keep the top 100.
    "q185_dsir_select" -> ((s, dir) => {
      operators.Dsir.importanceSelect(t(s, dir, "documents"),
        col("lang") === "en", "text", "doc_id", buckets = 256, k = 100)
    }),

    // Curation attrition report: every document charged to its FIRST
    // failing stage (dup -> lang -> short -> repetitive -> kept),
    // tabulated per source with within-source shares.
    "q186_curation_funnel" -> ((s, dir) => {
      operators.Curation.funnel(t(s, dir, "documents"),
        "text", "doc_id", "lang", "source",
        targetLang = "en", minTokens = 40L, maxTopBigramFrac = 0.08)
    }),

    // Classical additive seasonal decomposition of the daily event-value
    // series per event type: centered 7-day MA trend, weekday-position
    // seasonal means of the exact-integer detrended series, residual.
    "q189_seasonal_decompose" -> ((s, dir) => {
      operators.Seasonal.maDecompose(t(s, dir, "events"),
          "ts", "value", "event_type", period = 7, half = 3)
        .withColumnRenamed("key", "event_type")
    }),

    // PSNR between same-sized synthesized BMP pairs (id, id+63 — 63 =
    // 9*7 so dims always match): REAL byte decode on the Spark side,
    // exact integer SSE, one log10; the oracle recomputes pixels from
    // the synthesis formula without touching bytes.
    "q192_image_psnr" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeBmpTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.bmpPsnrPairs(media, offset = 63L)
    }),

    // Winsorized mean per return flag WITHOUT sorting any group: clamp
    // bounds from an md5-threshold sample, exact-cents clamped mean
    // over the full data.
    "q201_winsorized_stats" -> ((s, dir) => {
      operators.Profiler.winsorizedStats(
          t(s, dir, "lineitem").withColumn("rid",
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))),
          "l_returnflag", "l_extendedprice", "rid")
        .withColumnRenamed("grp", "l_returnflag")
    }),

    // Held-out Kneser-Ney scoring: fit the bigram LM on 95% of the
    // corpus (doc_id % 20 != 0), score the disjoint 5% with
    // continuation-probability backoff and add-one OOV mass — the
    // CCNet-style filter shape (q184 is its in-corpus degenerate).
    // The scored split gets two doc-derived novel tokens appended so
    // every backoff branch fires on this corpus (whose 31-word synthetic
    // vocabulary is otherwise fully covered by the fit split): a seen
    // context meeting an OOV continuation, then an OOV context.
    "q202_kn_heldout" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.NgramLm.knBigramScoreHeldOut(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .withColumn("text", concat(col("text"),
            lit(" novel"), pmod(col("doc_id"), lit(5)),
            lit(" unk"), pmod(col("doc_id"), lit(3)))),
        "text", "doc_id", discount = 0.75)
    }),

    // Tokenizer -> packing composite (the end-of-pipeline artifact):
    // BPE-encode every document with the scan-side codegen'd expression
    // and next-fit-pack the resulting token counts into 512-token
    // context windows, 8 shards — (doc_id, shard, bin, offset,
    // n_tokens) is exactly the layout a concatenating training-data
    // writer consumes. The fixed ("t","h") merge makes the token count
    // SQL-exact (the q180 non-overlapping replace-count law), so the
    // whole composite — encode AND the recursive next-fit fold — is
    // hash-checked row by row.
    "q203_tokenize_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val weighted = docs.select(col("doc_id"),
        size(operators.Bpe.encode(col("text"), Seq(("t", "h"))))
          .cast("long").as("n_tokens"))
      operators.SequencePack
        .packNextFit(weighted, "doc_id", "n_tokens",
          capacity = 512L, nShards = 8)
        .join(weighted, Seq("doc_id"))
    }),

    // HTML boilerplate extraction: each document wrapped in synthesized
    // page chrome (head/style/script, a link-dense nav div, a short
    // footer div), then main-content extracted by the block
    // length + link-density rule — a zero-shuffle projection — and fed
    // into the shared Gopher quality rules. The oracle rebuilds the same
    // page and replays every regex relationally.
    "q204_html_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>d"), col("doc_id").cast("string"),
        lit("</title><style>p{margin:0}</style><script>var x=1;" +
          "</script></head><body><!-- gen -->" +
          "<div><a href=\"/\">home</a> <a href=\"/l"),
        pmod(col("doc_id"), lit(7)).cast("string"),
        lit("\">topic</a></div><p>"), col("text"),
        lit(" &amp; more &lt;tag&gt;</p><div>tail "),
        pmod(col("doc_id"), lit(5)).cast("string"),
        lit("</div></body></html>"))
      val mc = operators.HtmlExtract
        .mainContent(docs.withColumn("html", html), "html", "doc_id")
        .withColumnRenamed("id", "doc_id")
      val g = TextAnalysis.gopherRules(col("content"))
      mc.select(col("doc_id"), col("n_blocks"), col("n_kept"),
        col("n_chars_main"), col("content"), g.pass.as("quality_pass"))
    }),

    // IVF-PQ (IVFADC under the cosine convention): coarse lists +
    // product-quantized residuals (8 subspaces x 16 sub-centroids, one
    // Lloyd iteration), ADC candidate scoring against reconstructions,
    // exact rerank of the top 40. The oracle replays the ENTIRE pipeline
    // — coarse assignment, residuals, codebook seed + training, encode,
    // ADC, rerank — relationally; hash-checked end to end.
    "q205_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", dim = 64, k = 10, nlist = 16, nprobe = 4,
        m = 8, ksub = 16, pqIters = 1, rerank = 40)
    }),

    // Positional phrase search: documents containing the exact
    // consecutive token sequence, with occurrence counts — the query
    // bag-of-words retrieval can't answer.
    "q199_phrase_search" -> ((s, dir) => {
      operators.TextIndex.phraseSearch(t(s, dir, "documents"),
        "text", "doc_id", Seq("part", "filter"))
    }),

    // Dedup savings accounting: per source, raw vs post-ExactSubstr
    // token counts — "what did span dedup buy us", the effective-
    // dataset-size number a data budget is planned against.
    "q200_dedup_savings" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cleaned = Dedup.removeDupSpans(docs, "text", "doc_id", spanN = 10)
      docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("raw"))
        .join(cleaned.select(col("doc_id"), col("n_removed")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("raw")).as("n_tokens_raw"),
          sum(col("raw") - col("n_removed")).as("n_tokens_kept"),
          (floor(sum(col("raw") - col("n_removed")).cast("double")
            / sum(col("raw")).cast("double") * lit(1e6) + lit(0.5d))
            / lit(1e6)).as("kept_ratio"))
    }),

    // Seasonality-aware anomaly summary: residual-MAD outliers per
    // event type — alerts that ignore the weekly cycle and the trend.
    "q198_seasonal_anomalies" -> ((s, dir) => {
      operators.Seasonal.seasonalAnomalies(t(s, dir, "events"),
          "ts", "value", "event_type", period = 7, half = 3, nSigma = 5.0)
        .withColumnRenamed("key", "event_type")
    }),

    // Contamination blast radius: eval-contaminated docs (q45's exact
    // overlap rule) seed a BFS over the MinHash near-dup graph (q31's
    // edges) — "everything within 2 near-dup links of a contaminated
    // document", the expansion set decontamination actually removes.
    // Three operators composing: contamination -> minhashPairs ->
    // bfsDistances.
    "q197_contamination_radius" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val evalSet = docs.filter(col("doc_id") % 20 === 0)
      val seeds = Dedup.contamination(corpus, evalSet, "text", "doc_id",
        shingleN = 3, minOverlap = 5).select(col("doc_id"))
      val edges = Dedup.minhashPairs(corpus, "text", "doc_id",
        bands = 16, rowsPerBand = 2, threshold = 0.35)
      operators.Graphs.bfsDistances(edges, "id_a", "id_b",
          seeds, "doc_id", maxHops = 2)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("sum_doc_id"))
    }),

    // Ingestion-order novelty: per doc, the fraction of its 10-token
    // windows unseen in any earlier (smaller-id) document — the
    // marginal-value signal crawl scheduling ranks sources by.
    "q196_span_novelty" -> ((s, dir) => {
      Dedup.spanNovelty(t(s, dir, "documents"), "text", "doc_id", spanN = 10)
    }),

    // Reliability diagram of the trained quality classifier: decile
    // bins of fitted probability vs observed label rate — the
    // calibration check before using classifier scores as mixing
    // weights. Bit-reproducible training makes the oracle replay exact.
    "q195_calibration_bins" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("__y",
        when(col("lang") === "en", 1).otherwise(0))
      val (w, b) = operators.QualityModel.train(labeled, "text", "__y",
        iters = 5, lr = 0.5)
      operators.QualityModel.score(docs, "text", w, b)
        .select(col("doc_id"), col("quality_prob"))
        .join(labeled.select(col("doc_id"), col("__y")), "doc_id")
        .withColumn("bin",
          least(floor(col("quality_prob") * 10), lit(9.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          (floor(round(sum(col("quality_prob")), 6) / count(lit(1))
            * lit(1e6) + lit(0.5d)) / lit(1e6)).as("mean_prob"),
          (floor(sum(col("__y")).cast("double") / count(lit(1))
            * lit(1e6) + lit(0.5d)) / lit(1e6)).as("frac_pos"))
    }),

    // Loudness envelope by real WAV decode: exact-long window energies
    // (sum of squared int16 samples per 160-sample window).
    "q193_audio_envelope" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeWavTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.wavEnergyWindows(media, win = 160)
    }),

    // Zipf slope per language over the top-100 terms: the one-number
    // corpus-health drift alarm (natural text sits near -1).
    "q194_zipf_slope" -> ((s, dir) => {
      operators.TextIndex.zipfSlope(t(s, dir, "documents"),
          "text", "doc_id", "lang", k = 100)
        .withColumnRenamed("grp", "lang")
    }),

    // Per-source distribution drift: KL(source || corpus) over hashed
    // unigram buckets — which source no longer looks like the mixture.
    "q191_kl_drift" -> ((s, dir) => {
      operators.Dsir.klDrift(t(s, dir, "documents"), "text", "source",
          buckets = 256)
        .withColumnRenamed("grp", "source")
    }),

    // CUSUM changepoint per event type: the day the cumulative
    // deviation from the series mean peaks, held as exact longs until
    // the final unit conversion.
    "q190_cusum_changepoint" -> ((s, dir) => {
      operators.Seasonal.cusumChangepoint(t(s, dir, "events"),
          "ts", "value", "event_type")
        .withColumnRenamed("key", "event_type")
    }),

    // ExactSubstr duplicated-span REMOVAL (Lee et al. 2022): rewrite
    // every document with non-first occurrences of duplicated 10-token
    // windows elided — the transform twin of q96's measurement.
    "q188_remove_dup_spans" -> ((s, dir) => {
      Dedup.removeDupSpans(t(s, dir, "documents"), "text", "doc_id",
        spanN = 10)
    }),

    // Group-relative quantile bucketing WITHOUT per-group sorts: KMV
    // sketch boundaries + scan-side assignment. Every language here fits
    // the k=4096 sample, so buckets are exact and the oracle replays the
    // same lower-value rank convention relationally; beyond k the
    // boundaries go O(1/sqrt(k))-approximate while staying partition-
    // order deterministic.
    "q187_quantile_buckets" -> ((s, dir) => {
      operators.QuantileNorm.quantileBuckets(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "n_chars", "doc_id", "lang")
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // PII scrubbing over deterministically-injected addresses/numbers
    // (the corpus itself carries none — the injection makes the redaction
    // observable and oracle-checkable end to end).
    "q46_pii_scrub" -> ((s, dir) => {
      val withPii = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com tel +1 555 123 4"),
        (col("doc_id") % 100).cast("string"))
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.scrubPii(withPii).as("clean_text"))
    }),

    // Extended PII scrub (email/IPv4/SSN/credit-card/phone formats) over
    // deterministically-injected PII of every kind — each injected shape
    // must come back as its redaction token, byte-identical to the oracle
    // running the same RE2-compatible patterns.
    "q48_pii_scrub_extended" -> ((s, dir) => {
      val withPii = concat(col("text"),
        lit(" reach user"), col("doc_id"), lit("@mail.example ip 10.2."),
        (col("doc_id") % 256).cast("string"), lit(".9 ssn 123-45-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" card 4111 1111 1111 1111 tel +44 20 7946 09"),
        (col("doc_id") % 100).cast("string"))
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.scrubPiiExtended(withPii).as("clean_text"))
    }),

    // Content-defined fingerprint (normalized md5) + rolling hash.
    "q43_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // ---- event streams (batch forms; streaming covered in specs) ----

    // Tumbling-hour aggregation over the event stream table.
    "q50_events_hourly" -> ((s, dir) => {
      graft.streaming.EventStreams.hourlyAgg(t(s, dir, "events"))
    }),

    // Built-in session_window aggregation (the streaming-native session
    // form; batch here, watermark/state path in StreamingSpec).
    "q53_session_window" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionWindowAgg(
        t(s, dir, "events"), gap = "30 minutes")
    }),

    // JSON scalar functions: typed extraction from the events' JSON props
    // (from_json with an explicit schema — codegen'd, no UDF), aggregated
    // per event type.
    "q52_json_funcs" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("k")).as("ndv_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),

    // Spark 4 VariantType over semi-structured events: nested JSON
    // (deterministically composed from integer columns, so both engines
    // build byte-identical input) parsed ONCE to the binary variant
    // encoding, then typed path extraction — the modern scale path for
    // semi-structured data: parse cost paid once per row, extractions are
    // O(1) binary probes instead of per-path string re-parses (q52's
    // from_json shape). try_variant_get on an absent path must yield NULL,
    // not error.
    "q168_variant" -> ((s, dir) => {
      val js = concat(lit("{\"meta\":{\"type\":\""), col("event_type"),
        lit("\",\"ord\":"), (col("event_id") % 7).cast("string"),
        lit("},\"ids\":["), col("user_id").cast("string"),
        lit(","), col("event_id").cast("string"), lit("]}"))
      t(s, dir, "events")
        .select(col("event_id"), parse_json(js).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.meta.type", "string").as("typ"),
          variant_get(col("v"), "$.meta.ord", "bigint").as("ord"),
          variant_get(col("v"), "$.ids[0]", "bigint").as("first_id"),
          try_variant_get(col("v"), "$.absent", "bigint").isNull.as("absent_null"))
    }),

    // Gap-based sessionization (30-min inactivity) per user.
    "q51_sessionize" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionize(t(s, dir, "events"), gapMinutes = 30)
    }),

    // ---- reference-pipeline parity (full OpinionPipeline dataflow over
    // reference-shaped sources derived from the harness tables; every
    // output table is oracle-checked against a DuckDB mirror of main.py) ----

    "q70_pipeline_clientes" -> ((s, dir) => etl.RefShaped.out(s, dir).clientes),
    "q71_pipeline_productos" -> ((s, dir) => etl.RefShaped.out(s, dir).productos),
    "q72_pipeline_comentarios" -> ((s, dir) => etl.RefShaped.out(s, dir).comentarios),
    "q73_pipeline_encuestas" -> ((s, dir) => etl.RefShaped.out(s, dir).encuestas),
    "q74_pipeline_webreviews" -> ((s, dir) => etl.RefShaped.out(s, dir).webReviews),
    "q75_pipeline_dims" -> ((s, dir) => {
      val o = etl.RefShaped.out(s, dir)
      def tag(df: DataFrame, tabla: String, id: String): DataFrame =
        df.select(lit(tabla).as("tabla"), col(id).as("id"), col("Nombre").as("nombre"),
          (if (df.columns.contains("FechaCarga")) col("FechaCarga")
           else lit(null).cast("timestamp")).as("fecha_carga"))
      tag(o.categorias, "categorias", "IdCategoria")
        .unionByName(tag(o.clasificaciones, "clasificaciones", "IdClasificacion"))
        .unionByName(tag(o.fuentes, "fuentes", "IdFuente"))
        .unionByName(tag(o.registroCargas, "registrocargas", "IdCarga"))
    }),

    // ---- multimodal plumbing ----

    // Media table: blob + typed metadata struct (pruned scan path).
    "q60_media_meta" -> ((s, dir) => {
      graft.multimodal.Multimodal
        .toMediaTable(t(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.kind").as("kind"))
    }),

    // GENERIC media decode over a heterogeneous corpus: one third PNG
    // (real compressed codec: CRC-verified chunks, multi-IDAT inflate,
    // all five scanline filters), one third BMP, one third WAV — the
    // magic-byte dispatch decodes each with its real parser and emits a
    // uniform feature row. The oracle replays every modality's formula
    // (pixel means for images, rms/peak/zcr for audio) — byte plumbing,
    // codec, and dispatch all load-bearing. Formerly the stub-decode
    // query; the stub is retired.
    "q61_media_features" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeMixedMediaTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), col("f1"), col("f2"),
          round(col("f3"), 6).as("f3"), round(col("f4"), 6).as("f4"),
          round(col("f5"), 6).as("f5"))
    }),

    // REAL media decode: synthesized-but-valid WAV blobs (RIFF/PCM, the
    // waveform an integer function of the id) run through a genuine
    // RIFF-chunk parser + PCM feature extraction; the oracle recomputes
    // the same features from the waveform formula without touching bytes.
    "q63_audio_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeWavTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.decodeWavFeatures(media)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 6).as("rms"), col("peak"), col("zcr"))
    }),

    // Dominant-frequency detection: real WAV decode + the Goertzel
    // single-bin recurrence over the 8 candidate fundamentals of the
    // synthesized sawtooths (freq*997 Hz, Nyquist-aliased for the two
    // highest). The detected bin is an exact integer the oracle derives
    // straight from the synthesis formula — a wrong coefficient,
    // sample, or power term flips the argmax and fails the hash.
    "q214_dominant_freq" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeWavTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      val cands = (3 to 10).map { f =>
        val hz = f * 997; if (hz <= 8000) hz else 16000 - hz
      }
      graft.multimodal.Multimodal.dominantFrequency(media, cands)
    }),

    // REAL image decode: synthesized-but-valid 24bpp BMP blobs (pixels an
    // integer function of x, y, id) run through a genuine header + padded
    // bottom-up pixel-array parser; the oracle recomputes the channel
    // means from the pixel formula without touching bytes.
    "q80_image_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeBmpTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.decodeBmpFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    // REAL video-container frame indexing: synthesized-but-valid AVI/MJPEG
    // blobs run through a genuine RIFF walk (hdrl parse, movi chunk walk,
    // idx1 cross-check); every frame's absolute payload offset, length,
    // and keyframe flag must match the oracle's pure-arithmetic replay of
    // the container layout (window prefix-sum over the size formula) —
    // one wrong chunk boundary anywhere and the offsets cascade off.
    "q62_frame_sample" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeAviTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.aviFrameIndex(media)
    }),

    // URL canonicalization: messy crawl-style spellings (uppercase
    // scheme/host, www, default and non-default ports, tracking params,
    // unsorted query strings, trailing slashes, fragments, schemeless,
    // co.uk-style suffixes, IP hosts) collapse to one canonical form per
    // page; host and registrable domain derived. The oracle replays the
    // fixed rule chain step for step.
    "q207_url_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        synthUrl(col("doc_id")).as("url"))
      val h = operators.UrlOps.host(col("url"))
      docs.select(col("doc_id"),
        operators.UrlOps.canonicalUrl(col("url")).as("url_canonical"),
        h.as("host"),
        operators.UrlOps.registrableDomain(h).as("domain"))
    }),

    // Per-registrable-domain crawl profile over the same synthesis: raw
    // url count vs distinct canonical forms — "how many spellings
    // collapsed", the number per-domain caps must key on.
    "q208_domain_stats" -> ((s, dir) => {
      operators.UrlOps.domainStats(
        t(s, dir, "documents").select(synthUrl(col("doc_id")).as("url")),
        "url")
    }),

    // Capstone sample assembly: the final training manifest a data
    // loader reads — every gate in ONE declarative plan: Gopher quality
    // rules, exact-dedup canonicality (first of the md5(text) group),
    // the content-hash train/val split, embedding availability (and
    // non-degeneracy), and the composed keep verdict. One broadcast-
    // joined pass; each gate's oracle idiom is reused verbatim.
    "q216_training_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = TextAnalysis.gopherRules(col("text"))
      val canon = docs.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("keep_id"))
      val emb = t(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
        (aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")) > 0.0d)
          .as("emb_ok"))
      docs
        .withColumn("__h", md5(col("text")))
        .join(canon, Seq("__h"))
        .join(emb, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
          g.pass.as("quality_pass"),
          (col("doc_id") === col("keep_id")).as("is_canonical"),
          when(substring(md5(col("text")), 1, 4) < "199a", "val")
            .otherwise("train").as("split"),
          coalesce(col("emb_ok"), lit(false)).as("has_embedding"))
        .withColumn("keep",
          col("quality_pass") && col("is_canonical") && col("has_embedding"))
    }),

    // Additive Holt-Winters forecast: level/trend/weekly-seasonal state
    // folded through the classic triple-smoothing updates over each
    // event type's daily-count series, every state component on the 6dp
    // grid (dyadic smoothing constants keep the oracle literals
    // bit-identical). One fold per series over its days-sized array.
    "q215_holt_winters" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("n"))
      operators.Seasonal.holtWinters(daily)
    }),

    // Heaps'-law vocabulary growth: cumulative vocab vs cumulative
    // tokens along ingestion order at 20 checkpoints, log-log slope
    // fitted with the zipfSlope arithmetic. (This corpus's 31-word
    // synthetic vocabulary saturates in the first bucket — the curve
    // goes flat and beta ~ 0, which is exactly the re-reading-the-
    // same-material signal the operator exists to flag.)
    "q213_heaps_law" -> ((s, dir) => {
      operators.TextIndex.heapsLaw(t(s, dir, "documents"),
        "text", "doc_id", buckets = 20)
    }),

    // The CCNet perplexity filter end to end: fit the KN bigram LM on
    // the trusted slice (lang = 'en'), score EVERY document through the
    // held-out backoff path, quantile-bucket the scores per source
    // (sort-free boundaries), and keep the middle band — tail buckets
    // are junk (too improbable) or boilerplate (too probable). Composite
    // of q202's scorer and q187's bucketing, replayed end to end.
    "q212_perplexity_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = operators.NgramLm.knBigramScoreHeldOut(
        docs.filter(col("lang") === "en"), docs, "text", "doc_id")
      val withSrc = scored
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      operators.QuantileNorm
        .quantileBuckets(withSrc, "mean_logp", "doc_id", "source")
        .withColumn("keep", col("bucket").isin(1L, 2L))
    }),

    // Hard-negative mining: per anchor (doc_id < 5), the BM25-most-
    // similar documents that are NOT near-duplicates — lexically hard,
    // semantically negative, the contrastive-training pair miner.
    // Positives come from the minhash/LSH pair output at the q94
    // settings; the oracle excludes exact-Jaccard pairs instead (same
    // q37/q94 recall-1.0 equivalence on this corpus).
    "q211_hard_negatives" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.Retrieval.hardNegatives(d, "text", "doc_id",
        col("doc_id") < 5,
        Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35),
        k = 10)
    }),

    // Web-graph composite: href extraction from synthesized pages
    // (HtmlExtract.links), link hosts canonicalized (UrlOps.host — the
    // second anchor is deliberately messy: WWW, uppercase, default
    // port, trailing slash), host-level edges, then PageRank over the
    // 40-host graph. The oracle replays extraction, the canonical
    // chain, AND all three rank iterations — one pipeline, hash-checked
    // end to end.
    "q210_link_graph_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m40 = (c: org.apache.spark.sql.Column) =>
        pmod(c, lit(40)).cast("string")
      val html = concat(
        lit("<html><body><p>"), col("text"), lit("</p>"),
        lit("<a href=\"http://site"), m40(col("doc_id") * 3 + 1),
        lit(".example.com/x\">t1</a>"),
        lit("<a href=\"https://WWW.Site"), m40(col("doc_id") * 3 + 2),
        lit(".Example.COM:443/y/\">t2</a>"),
        lit("<a href=\"/local\">rel</a></body></html>"))
      val links = operators.HtmlExtract
        .links(docs.withColumn("html", html), "html", "doc_id")
        .filter(col("url").rlike("://")) // absolute links only
      val edges = links.select(
          concat(lit("site"), m40(col("id")), lit(".example.com")).as("src"),
          operators.UrlOps.host(col("url")).as("dst"))
        .filter(col("src") =!= col("dst"))
      operators.PageRank.run(edges, iters = 3, damping = 0.85)
    }),

    // Incremental distinct-count maintenance: per-day HLL sketches of
    // user_id (mergeable state — a union-agg over kilobyte sketch rows
    // answers "distinct users over any range" without rescanning
    // events). Exact daily distincts are hash-checked; the sketch
    // estimates are graded as bounded-error booleans (per-day and
    // merged-total within 5%), the q24/q164 shape.
    "q209_hll_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = operators.DistinctSketch.dailySketches(ev, "user_id", "ts")
      val est = daily.select(col("day"), col("n_rows"),
        operators.DistinctSketch.estimate(col("sketch")).as("est"))
      val exact = ev
        .select(date_trunc("day", col("ts")).cast("date").as("day"),
          col("user_id"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("n_exact"))
      val total = operators.DistinctSketch.estimateOver(daily)
        .select(col("estimate").as("est_total"))
      val exactTotal = ev.agg(countDistinct(col("user_id")).as("n_exact_total"))
      est.join(exact, Seq("day"))
        .crossJoin(broadcast(total)).crossJoin(broadcast(exactTotal))
        .select(col("day"), col("n_rows").as("n_events"), col("n_exact"),
          (abs(col("est").cast("double") - col("n_exact"))
            <= col("n_exact") * lit(0.05d)).as("daily_ok"),
          (abs(col("est_total").cast("double") - col("n_exact_total"))
            <= col("n_exact_total") * lit(0.05d)).as("total_ok"))
    }),

    // REAL MJPEG frame decode: the container walk locates each frame,
    // a genuine baseline-JPEG decode (DQT/SOF0/DHT parse, Huffman
    // entropy decode, dequant, IDCT) produces its pixels, and the
    // per-frame stats must equal the oracle's pure-arithmetic replay of
    // the block synthesis formula — the DC-only constant-block round
    // trip is integer-exact, so one wrong Huffman bit anywhere fails
    // the hash.
    "q206_mjpeg_decode" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeAviTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.mjpegFrameFeatures(media)
    }),

    // Exact Jaccard self-join via PREFIX FILTERING (AllPairs/PPJoin):
    // the inverted index holds only each document's rarest
    // `n - ceil(t*n) + 1` shingles under the global (df, hash) order —
    // provably lossless at the threshold, so the oracle is the plain
    // exact all-pairs SQL, not a recall floor. The scale upgrade over
    // q33's every-shared-shingle join: candidate generation touches
    // only the short end of the postings distribution and carries no
    // stop-shingle cap caveat.
    "q217_setsim_prefix_join" -> ((s, dir) => {
      operators.SetSimJoin.prefixFilteredPairs(
        t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.5)
    }),

    // Blocklist gate: every occurrence of every blocklist phrase in ONE
    // Aho-Corasick pass per document (scan-side codegen'd expression,
    // blocklist-size independent) — vs the oracle's one-regexp-per-
    // phrase replay. Phrases are two-distinct-word strings (no
    // self-border), so AC's all-end-positions count equals the oracle's
    // non-overlapping left-to-right count.
    "q218_blocklist_filter" -> ((s, dir) => {
      val m = graft.expressions.MultiMatchExpr
        .multiMatch(lower(col("text")), BlocklistPhrases)
      t(s, dir, "documents").select(col("doc_id"), m.as("__m"))
        .select(col("doc_id"),
          size(col("__m")).cast("long").as("n_hits"),
          array_join(array_sort(array_distinct(col("__m"))), ",")
            .as("phrases"),
          (size(col("__m")) === 0).as("kept"))
    }),

    // Time travel through the manifest log: publish (v1), delete a
    // slice and compact (v2, v3), then read the table AS OF v1 — the
    // pre-delete state must reproduce exactly even though the live tip
    // no longer contains those rows. The oracle is the original
    // relational state; the LIVE read is cross-checked in-query (the
    // deleted slice must be gone at the tip, a require, not a column).
    "q219_time_travel" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-manifest-q219")
      val root = s"$tmp/tables"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("cents"),
          year(col("o_orderdate")).cast("long").as("anio"))
      etl.ManifestTable.publish(s, root, Map("orders" -> orders),
        Map("orders" -> "anio"))
      etl.ManifestTable.deleteWhere(s, root, "orders",
        col("o_orderpriority") === "1-URGENT", Some("anio"))
      etl.ManifestTable.compact(s, root, "orders", statsCol = Some("anio"))
      val liveUrgent = etl.ManifestTable.read(s, root, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").count()
      require(liveUrgent == 0L, s"tip still holds $liveUrgent deleted rows")
      val out = etl.ManifestTable.readAt(s, root, "orders", 1L)
        .groupBy(col("anio"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        // materialize before tearing the root down (the q162 idiom)
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // Per-dimension z-scoring of the embedding corpus: dimension stats
    // from order-free integer sums (one bounded-key shuffle), z-scores
    // applied scan-side against literal mean/std arrays — no second
    // shuffle. Output is the q82 integer-stat convention.
    "q220_embed_standardize" -> ((s, dir) => {
      Similarity.standardizeDims(t(s, dir, "embeddings"),
        "vec_id", "embedding")
    }),

    // Deterministic label-propagation communities over the near-dup
    // graph (3 synchronous rounds, min-label ties): the dense-core
    // complement of q37's connected components. Edges are the verified
    // minhash pairs (= exact pairs at these settings, the house
    // recall-1.0 equivalence); the oracle replays all three rounds as
    // unrolled CTEs over the exact-Jaccard edge set.
    "q221_label_propagation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.Graphs.labelPropagation(
        Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35),
        "id_a", "id_b", d, "doc_id", iters = 3)
    }),

    // Shot-boundary detection on REAL decoded video: the q206 MJPEG
    // decode chain feeds consecutive-frame luminance diffs; a cut fires
    // above threshold 100 and shot_id counts cuts. The synthesized
    // blocks advance +17 mod 256 per frame, so the diff takes one of
    // five values depending on how many of the four blocks wrap — the
    // oracle derives boundaries from the synthesis formula while the
    // engine must reach them through the full container walk + JPEG
    // entropy decode.
    "q222_shot_boundaries" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal
        .synthesizeAviTable(t(s, dir, "documents").select("doc_id"), "doc_id")
      graft.multimodal.Multimodal.shotBoundaries(
        graft.multimodal.Multimodal.mjpegFrameFeatures(media),
        threshold = 100.0)
    }),

    // Leave-one-out nearest-centroid eval: every vector classified
    // against centroids that exclude itself — LOO derived from the SAME
    // per-label integer sums (no second pass), classification entirely
    // scan-side against literal stats. correct=false rows are the
    // label-noise screen.
    "q223_centroid_loo" -> ((s, dir) => {
      Similarity.centroidLooEval(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
    }),

    // MMR diverse reranking at λ=1/2: greedy picks maximize the pure
    // integer rel6 − max(sim6 to already-picked) over an exact top-20
    // pool — candidate-confined pairwise similarity, one argmax round
    // per pick, no float in the greedy loop. The oracle unrolls all
    // five picks.
    "q224_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      operators.Retrieval.mmrRerank(e, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", poolK = 20, k = 5)
    }),

    // Content-defined chunking dedup: boundaries where the 3-token
    // window hash divides 8 (content property — edit-shift-resistant,
    // unlike fixed-width chunks), then exact chunk dedup via one
    // min(struct) first-occurrence aggregation. Per-doc savings stats.
    "q225_cdc_chunks" -> ((s, dir) => {
      Dedup.cdcChunkStats(t(s, dir, "documents"), "text", "doc_id")
    }),

    // Quality-aware cluster canonicalization: each near-dup cluster
    // keeps its BEST member — score = count of passed Gopher sub-rules,
    // ties by smallest id — instead of dedupCorpus's min-id survivor.
    // Exposes Dedup.dedupCorpusKeepBest through the oracle gate: the
    // recursive-CTE clusters + the q44 rule replay + per-cluster argmax.
    "q226_quality_canonical" -> ((s, dir) => {
      val g = TextAnalysis.gopherRules(col("text"))
      val qscore = (when(col("__g.nWords").between(50L, 100000L), 1L).otherwise(0L)
        + when(col("__g.meanWordLen").between(3.0d, 10.0d), 1L).otherwise(0L)
        + when(col("__g.symbolRatio") < 0.1d, 1L).otherwise(0L)
        + when(col("__g.dupSegRatio") < 0.3d, 1L).otherwise(0L))
      val docs = t(s, dir, "documents")
        .withColumn("__g", struct(g.nWords.as("nWords"),
          g.meanWordLen.as("meanWordLen"), g.symbolRatio.as("symbolRatio"),
          g.dupSegRatio.as("dupSegRatio")))
        .withColumn("qscore", qscore)
      Dedup.dedupCorpusKeepBest(docs, "text", "doc_id", "qscore",
          threshold = 0.8)
        .select("doc_id", "source", "n_chars", "qscore")
    }),

    // Rendezvous sharding: per-shard occupancy at S=8 plus how many of
    // each shard's keys the 9th shard would steal — the HRW guarantee
    // (only the new shard's wins move, ~1/9 of keys) made visible and
    // hash-checked. Scan-side argmax projection, zero shuffle before
    // the 8-group aggregate.
    "q227_rendezvous_shard" -> ((s, dir) => {
      val s8 = etl.DataLayout.rendezvousShard(col("doc_id"), 8)
      val s9 = etl.DataLayout.rendezvousShard(col("doc_id"), 9)
      t(s, dir, "documents")
        .select(col("doc_id"), s8.as("shard"), s9.as("__s9"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__s9") === 8L, 1L).otherwise(0L)).as("n_moved"))
    }),

    // Water-filling per-language budget: the max-min-fair level C with
    // Σ min(n_lang, C) <= 420 — small languages keep everything, the
    // dominant one is clipped, and the kept rows are the content-hash
    // prefix of each stratum (quota-sized sorts via the pruned rank, a
    // dominant stratum never fully sorts). The oracle re-derives C from
    // the counts and replays the per-stratum rank.
    "q228_water_fill" -> ((s, dir) => {
      operators.CorpusMix.waterFillSelect(t(s, dir, "documents"),
          "lang", "text", "doc_id", budget = 420L)
        .select("doc_id", "lang")
    }),

    // 2-core of the near-dup graph after 4 peels: dense duplicate blobs
    // survive, incidental pairs and pendants peel away — the dense-blob
    // complement of q37's components and q221's communities. Survivor
    // set replayed round by round in the oracle.
    "q229_kcore" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      operators.Graphs.kCore(
        Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35),
        "id_a", "id_b", d, "doc_id", k = 2, rounds = 4)
    }),

    // Population stability index per source over exact corpus deciles
    // of n_chars — the MLOps drift gate; KL (q191) covers text content,
    // PSI covers a numeric feature's distribution shift.
    "q244_psi_drift" -> ((s, dir) => {
      operators.Dsir.psiDrift(t(s, dir, "documents"), "n_chars", "source")
    }),

    // Corpus topic map: k-means over the embeddings (two replayable
    // Lloyd's iterations, the q77 training), each cluster labeled with
    // its three most DISTINCTIVE terms — tf * ln(1 + K/cluster-df) on
    // the 6dp grid, ties by term. The "what is in this corpus"
    // dashboard: clustering, assignment, and labeling all hash-checked.
    "q243_topic_map" -> ((s, dir) => {
      import graft.expressions.CosinesExpr.{argMax, cosinesD}
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nlist = 8, iters = 2)
      val assigned = e.select(col("vec_id").as("doc_id"),
        argMax(cosinesD(col("embedding"), cents)).cast("long").as("cluster"))
      val sizes = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"))
      val toks = t(s, dir, "documents").join(assigned, "doc_id")
        .select(col("cluster"),
          explode(split(lower(col("text")), " ", -1)).as("term"))
      val tf = toks.groupBy(col("cluster"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val cdf = tf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
      val scored = tf.join(cdf, "term")
        .withColumn("score6",
          floor(col("tf").cast("double")
            * log(lit(1.0d) + lit(8.0d) / col("cdf").cast("double"))
            * lit(1e6) + lit(0.5d)).cast("long"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("score6").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .join(sizes, "cluster")
        .select(col("cluster"), col("n_members"), col("rank"), col("term"),
          (col("score6").cast("double") / lit(1e6)).as("score"))
    }),

    // Pair forensics: every verified near-dup pair explained — shared /
    // only-a / only-b shingle counts and the rarest shared shingle as a
    // readable witness. Runs on the bounded pair output, never
    // corpus-pairwise.
    "q242_pair_explain" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.explainPairs(d, "text", "doc_id",
        Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35))
    }),

    // Inter-event-gap regularity per user — the behavioral bot screen:
    // a coefficient of variation near zero means metronome-regular
    // traffic no human produces. Exact integer gap sums (decimal-
    // widened squares), one fixed IEEE sequence to the 6dp-grid cv.
    "q241_bot_regularity" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("__us", unix_micros(col("ts")))
        .withColumn("__g", expr(
          "(__us - lag(__us, 1) OVER (PARTITION BY user_id" +
            " ORDER BY ts, event_id)) div 1000"))
        .filter(col("__g").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("__g").cast("decimal(38,0)")).as("__s"),
          sum(col("__g").cast("decimal(18,0)")
            * col("__g").cast("decimal(18,0)")).as("__s2"))
        .select(col("user_id"), col("n_gaps"),
          (floor(col("__s").cast("double") / col("n_gaps").cast("double")
            + lit(0.5d))).cast("long").as("mean_gap_ms"),
          when(col("__s") > 0,
            floor(sqrt(col("__s2").cast("double") / col("n_gaps").cast("double")
              - (col("__s").cast("double") / col("n_gaps").cast("double"))
                * (col("__s").cast("double") / col("n_gaps").cast("double")))
              / (col("__s").cast("double") / col("n_gaps").cast("double"))
              * lit(1e6) + lit(0.5d)) / lit(1e6))
            .otherwise(lit(null).cast("double")).as("cv"))
        .withColumn("regular",
          col("cv").isNotNull && col("cv") < 0.3d && col("n_gaps") >= 5L)
    }),

    // Linear interpolation over a gapped daily series (every 5th epoch
    // day removed): missing days take the exact straight-line value
    // between observed neighbors — integer numerator/denominator, one
    // 6dp-grid division. The gap-policy complement of q119's forward
    // fill.
    "q240_interpolate" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      val gapped = daily.filter(
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"),
          lit(5L)) =!= 0L)
      operators.Resample.interpolateLinear(gapped)
    }),

    // Incremental CDC dedup: chunk the history once into a digest
    // index, then measure each NEW batch doc's already-known chunk and
    // token mass against it — batch-proportional cost, the continuous-
    // ingestion analog of q81's minhash index for chunk-level dedup.
    "q239_cdc_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdcidx-q239")
      val path = s"$tmp/idx"
      Dedup.writeCdcChunkIndex(d.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", path)
      val out = Dedup.incrementalCdcStats(s,
          d.filter(col("doc_id") % 10 === 0), "text", "doc_id", path)
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // Language-ID confusion matrix: the q41 heuristic graded as an
    // eval — (label, guess) counts plus per-cell share of the label's
    // row, the standard classifier-debug view.
    "q238_langid_confusion" -> ((s, dir) => {
      val g = t(s, dir, "documents").select(
        col("lang").as("lang_label"),
        TextAnalysis.langId(col("text")).as("lang_guess"))
      val wl = Window.partitionBy(col("lang_label"))
      g.groupBy(col("lang_label"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_share",
          round(col("n").cast("double")
            / sum(col("n")).over(wl).cast("double"), 6))
    }),

    // Two-sample Kolmogorov–Smirnov drift per source: sup |F_src - F_corpus|
    // over the n_chars distribution — the binning-free complement of
    // q191's bucketed KL. Exact integer cross-multiplied CDF diffs
    // (cum_s*n_c - cum_c*n_s), one division at the end; the evaluation
    // grid is sources × DISTINCT values (aggregated rows, the
    // bounded-value-domain contract), windows only over that grid.
    "q237_ks_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        col("n_chars").as("v"))
      val cv = d.groupBy(col("v")).agg(count(lit(1)).as("cc"))
      val sv = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("cs"))
      val srcs = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val nc = d.count()
      // bounded crossJoin: the stratum list (sources) is broadcast —
      // never corpus × corpus
      val grid = cv.crossJoin(broadcast(srcs))
        .join(sv, Seq("source", "v"), "left")
        .select(col("source"), col("ns"), col("v"), col("cc"),
          coalesce(col("cs"), lit(0L)).as("cs"))
      val w = Window.partitionBy(col("source")).orderBy(col("v").asc)
      grid
        .withColumn("cums", sum(col("cs")).over(w))
        .withColumn("cumc", sum(col("cc")).over(w))
        .groupBy(col("source"), col("ns"))
        .agg(max(abs(col("cums") * lit(nc) - col("cumc") * col("ns")))
          .as("__d"))
        .select(col("source"), col("ns").as("n_docs"),
          round(col("__d").cast("double")
            / (col("ns") * lit(nc)).cast("double"), 6).as("ks"))
    }),

    // Cross-source duplication matrix: which source PAIRS share
    // near-dups (syndication/mirror provenance). Unordered source pair
    // per verified minhash pair, counted.
    "q236_cross_source_dups" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashPairs(d, "text", "doc_id",
          bands = 16, rowsPerBand = 2, threshold = 0.35)
        .join(d.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .groupBy(least(col("sa"), col("sb")).as("src_lo"),
          greatest(col("sa"), col("sb")).as("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Fixed-width source round trip: documents formatted as positional
    // records (id 10 / lang 5 / zero-padded n_chars 8), every 97th line
    // truncated to exercise the quarantine, read back through the
    // declared-offset parser, aggregated per lang. The oracle replays
    // format+parse relationally — a mis-sliced offset, broken trim, or
    // leaked corrupt row shifts a count and fails the hash.
    "q235_fixed_width" -> ((s, dir) => {
      import sources.FixedWidth.FwField
      val tmp = java.nio.file.Files.createTempDirectory("graft-fw-q235")
      val path = s"$tmp/fw"
      t(s, dir, "documents").select(
          when(col("doc_id") % 97 === 0, rpad(col("doc_id").cast("string"), 4, " "))
            .otherwise(concat(rpad(col("doc_id").cast("string"), 10, " "),
              rpad(col("lang"), 5, " "),
              lpad(col("n_chars").cast("string"), 8, "0"))).as("value"))
        .write.text(path)
      val out = sources.FixedWidth.read(s, path, Seq(
          FwField("doc_id", 1, 10, org.apache.spark.sql.types.LongType),
          FwField("lang", 11, 5, org.apache.spark.sql.types.StringType),
          FwField("n_chars", 16, 8, org.apache.spark.sql.types.LongType)))
        .groupBy(coalesce(col("lang"), lit("__corrupt")).as("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .localCheckpoint()
      etl.IncrementalLoad.deleteRecursively(tmp)
      out
    }),

    // IDF-weighted Jaccard: shared RARE content drives the score,
    // boilerplate shingles weigh ~nothing — template-glued docs stop
    // pairing, distinctive-passage pairs survive. 6dp-grid weights,
    // order-free integer sums.
    "q234_weighted_jaccard" -> ((s, dir) => {
      Dedup.weightedJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.4)
    }),

    // Containment self-join: near-SUBSET pairs by |A∩B|/min(|A|,|B|) —
    // the quote/syndication detector a Jaccard join structurally
    // misses (size ratio divides resemblance away). Same inverted-
    // index shape as q33; only the normalization differs.
    "q233_containment_join" -> ((s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.8)
    }),

    // Shannon word-distribution entropy per document — the lexical-
    // diversity signal that catches keyword stuffing; 6dp-grid terms
    // make the inner sum order-free and engine-portable.
    "q232_token_entropy" -> ((s, dir) => {
      operators.TextIndex.tokenEntropy(t(s, dir, "documents"),
        "text", "doc_id")
    }),

    // Johnson–Lindenstrauss projection 64 -> 16 dims (the splitmix64
    // literal matrix, integer-grid order-free components), graded by
    // pairwise cosine distortion on a bounded evaluation slice: cos64
    // (the house pair cosine) vs cos16 from the projected integer
    // vectors. The 40-vector pair set is broadcast-bounded by
    // construction — never corpus-pairwise.
    "q231_jl_distortion" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 40)
      val p = Similarity.jlProject(e, "vec_id", "embedding", 64, 16)
      val base = e.join(p, "vec_id")
      val a = base.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("proj").as("pa"), col("pnorm2").as("na"))
      val b = base.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("proj").as("pb"), col("pnorm2").as("nb"))
      val dot16 = aggregate(zip_with(col("pa"), col("pb"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      val cos16 = when(col("na") > 0L && col("nb") > 0L,
        floor(dot16.cast("double")
          / sqrt(col("na").cast("double") * col("nb").cast("double"))
          * lit(1e6) + lit(0.5d)) / lit(1e6)).otherwise(lit(0.0d))
      a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
        .withColumn("cos64", round(Similarity.cosine(col("va"), col("vb")), 6))
        .withColumn("cos16", cos16)
        .withColumn("err", round(abs(col("cos64") - col("cos16")), 6))
        .select("id_a", "id_b", "cos64", "cos16", "err")
    }),

    // Theil–Sen robust trend per event type: median of all pairwise
    // daily-count slopes (29% breakdown — anomalous days can't drag it
    // like OLS), lower medians on the 6dp grid. Pairs are per-series
    // over aggregated daily rows, never raw events.
    "q230_theil_sen" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("series"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .groupBy(col("series"), col("day")).agg(count(lit(1)).as("v"))
      operators.Seasonal.theilSen(daily)
    })
  )

  /** q218 blocklist — lexicographically sorted; each phrase is two
    * distinct vocab words (border-free, so overlap semantics can't
    * diverge between the AC automaton and the oracle's regexp count). */
  private val BlocklistPhrases: Seq[String] = Seq(
    "batch part", "fast spark", "hash value", "key agg",
    "row scan", "slow merge", "sort table", "table window")

  /** Session-level Kaplan–Meier oracle (q252; wrapped for q318): the
    * exact integer product-limit fold as a recursive CTE. Shared so the
    * fresh-name diagnostic re-registration cannot drift from the
    * original. */
  private val KmSessionOracleSql: String =
    """WITH RECURSIVE sess AS (
      |  SELECT user_id,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
      |    epoch_us(ts) AS us
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) IS NULL
      |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id)) > 1800000000
      |        THEN 1 ELSE 0 END AS is_new
      |    FROM events)),
      |e AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
      |lt AS (
      |  SELECT CAST((max(us) - min(us)) // 60000000 AS BIGINT) AS dur,
      |    (max(e.end_us) - max(us) >= 1800000000) AS obs
      |  FROM sess, e GROUP BY user_id, sid),
      |perT AS (
      |  SELECT dur AS t,
      |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS leaving
      |  FROM lt GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lt),
      |r AS (
      |  SELECT *, n_total - coalesce(sum(leaving) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM perT, tot),
      |r2 AS (
      |  SELECT t, d, n_risk,
      |    ((n_risk - d) * 1000000) // n_risk AS f6,
      |    row_number() OVER (ORDER BY t) AS rn
      |  FROM r),
      |prod AS (
      |  SELECT rn, t, d, n_risk, (1000000 * f6) // 1000000 AS p6
      |  FROM r2 WHERE rn = 1
      |  UNION ALL
      |  SELECT b.rn, b.t, b.d, b.n_risk, (p.p6 * b.f6) // 1000000
      |  FROM prod p JOIN r2 b ON b.rn = p.rn + 1)
      |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS n_events, CAST(p6 AS BIGINT) AS survival_p6
      |FROM prod WHERE d > 0""".stripMargin

  /** Customer-lifetime Kaplan–Meier oracle (q282; wrapped for q319). */
  private val KmUserOracleSql: String =
    """WITH RECURSIVE sp AS (
      |  SELECT o_custkey,
      |    min(CAST(o_orderdate AS DATE)) AS first_day,
      |    max(CAST(o_orderdate AS DATE)) AS last_day
      |  FROM orders GROUP BY 1),
      |e AS (SELECT max(CAST(o_orderdate AS DATE)) AS obs_end
      |  FROM orders),
      |lt AS (
      |  SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT)
      |      AS dur,
      |    (date_diff('day', last_day, e.obs_end) >= 90) AS obs
      |  FROM sp, e),
      |perT AS (
      |  SELECT dur AS t,
      |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS leaving
      |  FROM lt GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lt),
      |r AS (
      |  SELECT *, n_total - coalesce(sum(leaving) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM perT, tot),
      |r2 AS (
      |  SELECT t, d, n_risk,
      |    ((n_risk - d) * 1000000) // n_risk AS f6,
      |    row_number() OVER (ORDER BY t) AS rn
      |  FROM r),
      |prod AS (
      |  SELECT rn, t, d, n_risk, (1000000 * f6) // 1000000 AS p6
      |  FROM r2 WHERE rn = 1
      |  UNION ALL
      |  SELECT b.rn, b.t, b.d, b.n_risk, (p.p6 * b.f6) // 1000000
      |  FROM prod p JOIN r2 b ON b.rn = p.rn + 1)
      |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS n_events, CAST(p6 AS BIGINT) AS survival_p6
      |FROM prod WHERE d > 0""".stripMargin

  /** Oracle-side mirror of [[withBoardChecksum]]: wraps a K-M board
    * query (columns t_days, n_risk, n_events, survival_p6 — BIGINT,
    * non-null, non-negative, so the enc.long sentinel/normalization
    * reduces to `c % P`) with the identical rowMix fold and mod-P sum,
    * replicated onto every row as board_ck. */
  private def withBoardChecksumSql(base: String): String = {
    val mix = Seq("t_days", "n_risk", "n_events", "survival_p6")
      .foldLeft("17") { (acc, c) =>
        s"(($acc * 1000003 + $c % 2147483647) % 2147483647)"
      }
    s"""WITH out AS (SELECT * FROM ($base) __km),
       |mx AS (SELECT *, $mix AS premix FROM out),
       |ck AS (SELECT CAST(sum(premix) % 2147483647 AS BIGINT) AS board_ck
       |  FROM mx)
       |SELECT out.t_days, out.n_risk, out.n_events, out.survival_p6,
       |  ck.board_ck
       |FROM out, ck""".stripMargin
  }

  /** Oracle for q333: the recall board replayed end to end — the SAME
    * portable-hash constants (`Dedup.portableAB` feeds literals into
    * BOTH engines, so the families cannot drift), `JaccardCtes(0.5)`
    * as the exact grader, one branch per band config. Every count is
    * CAST BIGINT (the q252 HUGEINT lesson); the recall division is the
    * identical IEEE double expression on both sides. */
  /** Band configs the q333 recall board grades — ONE list feeding both
    * the Spark query and the oracle SQL so they cannot drift. (2,4) is
    * the deliberately-lossy anchor at the low end; at the graded-corpus
    * Jaccard levels the expected candidate probabilities separate
    * monotonically across all four. */
  private val RecallBoardConfigs: Seq[(Int, Int)] =
    Seq((2, 4), (4, 4), (8, 2), (16, 2))

  /** The graded-near-dup corpus q333/q340 grade recall on — even-id
    * documents plus one prefix-truncated variant each (the
    * [[GradedCorpusSql]] mirror, expression for expression). */
  private def gradedNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val frac = when(col("doc_id") % 8 === 0, lit(1.0d))
      .when(col("doc_id") % 8 === 2, lit(0.9d))
      .when(col("doc_id") % 8 === 4, lit(0.75d))
      .otherwise(lit(0.6d))
    val keepN = greatest(lit(3),
      floor(size(toks).cast("double") * frac).cast("int"))
    val variants = base.select((col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(toks, lit(1), keepN), " ").as("text"))
    base.unionByName(variants)
  }

  /** q333's GRADED-near-dup corpus in SQL (the Spark query mirrors this
    * expression for expression): even-id documents plus one
    * prefix-truncated variant each — keep 100/90/75/60% of the
    * whitespace tokens by id mod 8, so variant pairs land at Jaccard
    * ~1.0/~0.9/~0.75/~0.6 and the board's recall column DISCRIMINATES
    * between band configs instead of reading 1.0 everywhere (the
    * round-14 board could not rank configs because every planted dup
    * was exact). */
  private val GradedCorpusSql: String =
    """SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id,
      |  array_to_string(list_slice(string_split(text, ' '), 1,
      |    greatest(3, CAST(floor(len(string_split(text, ' ')) *
      |      (CASE WHEN doc_id % 8 = 0 THEN 1.0
      |            WHEN doc_id % 8 = 2 THEN 0.9
      |            WHEN doc_id % 8 = 4 THEN 0.75
      |            ELSE 0.6 END)) AS BIGINT))), ' ') AS text
      |FROM documents WHERE doc_id % 2 = 0""".stripMargin

  private def LshRecallBoardSql: String = {
    val P = graft.operators.Dedup.PortableP
    val values = graft.operators.Dedup.portableAB(32).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    def cfg(bands: Int, r: Int): String = {
      val tag = s"${bands}_$r"
      val key = r match {
        case 2 =>
          s"""max(CASE WHEN j % 2 = 0 THEN m END) * 2147483648
             |      + max(CASE WHEN j % 2 = 1 THEN m END)""".stripMargin
        case 4 =>
          s"""((max(CASE WHEN j % 4 = 0 THEN m END) * 2147483648
             |      + max(CASE WHEN j % 4 = 1 THEN m END)) % $P) * 2147483648
             |      + ((max(CASE WHEN j % 4 = 2 THEN m END) * 2147483648
             |      + max(CASE WHEN j % 4 = 3 THEN m END)) % $P)""".stripMargin
      }
      s"""key_$tag AS (
         |  SELECT id, j // $r AS band,
         |    $key AS key
         |  FROM mh WHERE j < ${bands * r} GROUP BY 1, 2),
         |cand_$tag AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM key_$tag a
         |  JOIN key_$tag b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         |row_$tag AS (
         |  SELECT CAST($bands AS BIGINT) AS bands,
         |    CAST($r AS BIGINT) AS rows_per_band,
         |    (SELECT CAST(count(*) AS BIGINT) FROM jp) AS n_exact,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand_$tag) AS n_cand,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM cand_$tag c JOIN jp USING (id_a, id_b)) AS n_hits)""".stripMargin
    }
    val configs = RecallBoardConfigs
    s"""WITH ${JaccardCtesFrom(GradedCorpusSql, 0.5)},
       |jp AS (SELECT id_a, id_b FROM jpairs),
       |hs AS (
       |  SELECT doc_id AS id,
       |    CAST(list_sum(list_transform(range(1, length(g) + 1),
       |      i -> CAST(unicode(substring(g, i, 1)) AS BIGINT) * i))
       |      % $P AS BIGINT) AS h
       |  FROM grams),
       |mh AS (
       |  SELECT id, ab.j AS j, min((ab.a * h + ab.b) % $P) AS m
       |  FROM hs, (VALUES $values) ab(j, a, b)
       |  GROUP BY 1, 2),
       |${configs.map { case (b, r) => cfg(b, r) }.mkString(",\n")}
       |SELECT bands, rows_per_band, n_exact, n_cand, n_hits,
       |  CASE WHEN n_exact > 0
       |    THEN CAST(floor(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE)
       |      * 1000000 + 0.5) AS BIGINT)
       |    ELSE CAST(-1 AS BIGINT) END AS recall_p6
       |FROM (${configs.map { case (b, r) => s"SELECT * FROM row_${b}_$r" }
             .mkString(" UNION ALL ")})""".stripMargin
  }

  /** q345's oracle: the recall board + q340's selection rule pick the
    * config (the board runs as a self-contained subquery, so its CTE
    * names cannot collide); the corpus side then replays q83's quality
    * and exact-dedup stages, builds the banded MinHash candidates of
    * EVERY board config over the exact-dedup survivors (each config's
    * candidate CTE joins `choice`, so only the chosen one is
    * non-empty), verifies candidates with exact Jaccard at the 0.5
    * threshold, clusters by min-id reachability, and finishes with the
    * per-source cap and the PII scrub — `prepareTuned` end to end. */
  private def TunedPipelineOracleSql: String = {
    val P = graft.operators.Dedup.PortableP
    val values = graft.operators.Dedup.portableAB(32).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    def keyExpr(r: Int): String = r match {
      case 2 =>
        s"""max(CASE WHEN j % 2 = 0 THEN m END) * 2147483648
           |      + max(CASE WHEN j % 2 = 1 THEN m END)""".stripMargin
      case 4 =>
        s"""((max(CASE WHEN j % 4 = 0 THEN m END) * 2147483648
           |      + max(CASE WHEN j % 4 = 1 THEN m END)) % $P) * 2147483648
           |      + ((max(CASE WHEN j % 4 = 2 THEN m END) * 2147483648
           |      + max(CASE WHEN j % 4 = 3 THEN m END)) % $P)""".stripMargin
    }
    def cfg(bands: Int, r: Int): String = {
      val tag = s"${bands}_$r"
      s"""ckey_$tag AS MATERIALIZED (
         |  SELECT id, j // $r AS band,
         |    ${keyExpr(r)} AS key
         |  FROM cmh WHERE j < ${bands * r} GROUP BY 1, 2),
         |ccand_$tag AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM ckey_$tag a
         |  JOIN ckey_$tag b ON a.band = b.band AND a.key = b.key AND a.id < b.id
         |  JOIN choice ON choice.bands = $bands
         |    AND choice.rows_per_band = $r)""".stripMargin
    }
    val configs = RecallBoardConfigs
    s"""WITH RECURSIVE choice AS MATERIALIZED (
       |  SELECT bands, rows_per_band FROM ($LshRecallBoardSql) __board
       |  WHERE recall_p6 >= 950000
       |  ORDER BY n_cand, bands * rows_per_band, bands LIMIT 1),
       |q AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE len(string_split(text, ' ')) >= 10),
       |bgq AS (
       |  SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] AS g
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM q) d,
       |       LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t),
       |rep AS (
       |  SELECT doc_id FROM (SELECT doc_id, g, count(*) AS c FROM bgq GROUP BY 1, 2)
       |  GROUP BY doc_id HAVING CAST(max(c) AS DOUBLE) / sum(c) <= 0.2),
       |kept AS (SELECT q.* FROM q JOIN rep USING (doc_id)),
       |dd AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM (SELECT *, row_number() OVER (
       |      PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM kept)
       |  WHERE rn = 1),
       |cdocs AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM dd),
       |cgrams AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] || ' ' || d.toks[t.i + 2] AS g
       |    FROM cdocs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 1)) AS i) t
       |    WHERE len(d.toks) >= 3
       |    UNION ALL
       |    SELECT doc_id, array_to_string(toks, ' ') AS g FROM cdocs WHERE len(toks) < 3)),
       |ccounts AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM cgrams GROUP BY doc_id),
       |chs AS (
       |  SELECT doc_id AS id,
       |    CAST(list_sum(list_transform(range(1, length(g) + 1),
       |      i -> CAST(unicode(substring(g, i, 1)) AS BIGINT) * i))
       |      % $P AS BIGINT) AS h
       |  FROM cgrams),
       |cmh AS MATERIALIZED (
       |  SELECT id, ab.j AS j, min((ab.a * h + ab.b) % $P) AS m
       |  FROM chs, (VALUES $values) ab(j, a, b)
       |  GROUP BY 1, 2),
       |${configs.map { case (b, r) => cfg(b, r) }.mkString(",\n")},
       |ccand AS MATERIALIZED (${configs.map { case (b, r) =>
             s"SELECT * FROM ccand_${b}_$r" }.mkString(" UNION ALL ")}),
       |cinter AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM ccand c JOIN cgrams a ON a.doc_id = c.id_a
       |               JOIN cgrams b ON b.doc_id = c.id_b AND a.g = b.g
       |  GROUP BY 1, 2),
       |cjp AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      round(CAST(coalesce(i.inter, 0) AS DOUBLE)
       |        / (na.n + nb.n - coalesce(i.inter, 0)), 6) AS jaccard
       |    FROM ccand c
       |    LEFT JOIN cinter i USING (id_a, id_b)
       |    JOIN ccounts na ON c.id_a = na.doc_id
       |    JOIN ccounts nb ON c.id_b = nb.doc_id)
       |  WHERE jaccard >= 0.5),
       |cedges AS (SELECT id_a AS src, id_b AS dst FROM cjp
       |           UNION ALL SELECT id_b, id_a FROM cjp),
       |creach(id, r) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM cedges)
       |  UNION
       |  SELECT e.src, creach.r FROM cedges e JOIN creach ON creach.id = e.dst),
       |cclusters AS (SELECT id, min(r) AS cluster_id FROM creach GROUP BY id),
       |surv AS (
       |  SELECT * FROM dd
       |  WHERE doc_id NOT IN (SELECT id FROM cclusters WHERE id <> cluster_id)),
       |capped AS (
       |  SELECT * FROM (SELECT doc_id, source, text, row_number() OVER (
       |      PARTITION BY source ORDER BY md5(text), doc_id) AS rk FROM surv)
       |  WHERE rk <= 50),
       |fin AS (
       |  SELECT doc_id, source,
       |    regexp_replace(
       |      regexp_replace(text,
       |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |      '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS ct
       |  FROM capped)
       |SELECT doc_id, source, CAST(len(ct) AS BIGINT) AS n_ct FROM fin""".stripMargin
  }

  /** Oracle for q331: both K-M boards reduced to (count, board_ck) and
    * emitted as ONE all-BIGINT row. Every column is an explicit CAST —
    * no sum/window output escapes uncast, so no HUGEINT→float64 drift
    * is possible on the driver's pandas fetch. */
  private def KmDigestSql: String = {
    val mix = Seq("t_days", "n_risk", "n_events", "survival_p6")
      .foldLeft("17") { (acc, c) =>
        s"(($acc * 1000003 + $c % 2147483647) % 2147483647)"
      }
    s"""WITH sd AS (
       |  SELECT CAST(count(*) AS BIGINT) AS km_rows,
       |    CAST(sum($mix) % 2147483647 AS BIGINT) AS km_ck
       |  FROM ($KmSessionOracleSql) __s),
       |ud AS (
       |  SELECT CAST(count(*) AS BIGINT) AS user_rows,
       |    CAST(sum($mix) % 2147483647 AS BIGINT) AS user_ck
       |  FROM ($KmUserOracleSql) __u)
       |SELECT km_rows, km_ck, user_rows, user_ck FROM sd, ud""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    // DuckDB's jaro_winkler_similarity replays the codegen'd expression;
    // 6dp grid before the per-record argmax, ties to the smaller id
    "q245_jaro_best_match" ->
      """WITH r AS (
        |  SELECT p_partkey AS id, p_name AS name,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part),
        |p AS (
        |  SELECT a.id, a.name, b.id AS id_b, b.name AS name_b,
        |    CAST(floor(jaro_winkler_similarity(a.name, b.name) * 1000000
        |      + 0.5) AS BIGINT) AS jw6
        |  FROM r a JOIN r b ON a.blk = b.blk AND a.id <> b.id),
        |k AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY id ORDER BY jw6 DESC, id_b) AS rn
        |  FROM p)
        |SELECT id, name, id_b AS best_id, name_b AS best_name,
        |  CAST(jw6 AS DOUBLE) / 1000000 AS jw
        |FROM k WHERE rn = 1 AND jw6 >= 850000""".stripMargin,

    "q246_sorted_neighborhood" ->
      """WITH r AS (SELECT p_partkey AS id, p_name AS name FROM part),
        |rk AS (
        |  SELECT id, name,
        |    CAST(row_number() OVER (ORDER BY name, id) AS BIGINT) AS rank
        |  FROM r),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a,
        |    b.name AS name_b, b.rank - a.rank AS rank_gap,
        |    CAST(floor(jaro_winkler_similarity(a.name, b.name) * 1000000
        |      + 0.5) AS BIGINT) AS jw6
        |  FROM rk a JOIN rk b ON b.rank BETWEEN a.rank + 1 AND a.rank + 3)
        |SELECT id_a, id_b, name_a, name_b, rank_gap,
        |  CAST(jw6 AS DOUBLE) / 1000000 AS jw
        |FROM p WHERE jw6 >= 900000""".stripMargin,

    // literal 6dp log2 m/u weights mirror Linkage.FsField:
    // log2(.9/.2)=2.169925, log2(.1/.8)=-3, log2(.8/.1)=3,
    // log2(.2/.9)=-2.169925, log2(.95/.5)=0.925999, log2(.05/.5)=-3.321928
    "q247_fellegi_sunter" ->
      """WITH r AS (
        |  SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS blk,
        |    c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balk,
        |    (c_acctbal < 0) AS neg
        |  FROM customer),
        |p AS (
        |  SELECT a.blk,
        |    (CASE WHEN a.seg = b.seg THEN 2169925 ELSE -3000000 END
        |     + CASE WHEN a.balk = b.balk THEN 3000000 ELSE -2169925 END
        |     + CASE WHEN a.neg = b.neg THEN 925999 ELSE -3321928 END) AS s6
        |  FROM r a JOIN r b ON a.blk = b.blk AND a.id < b.id)
        |SELECT blk AS block,
        |  CASE WHEN s6 >= 4000000 THEN 'link'
        |       WHEN s6 <= -4000000 THEN 'non_link'
        |       ELSE 'possible' END AS decision,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(s6) AS DOUBLE) / 1000000 AS min_score,
        |  CAST(max(s6) AS DOUBLE) / 1000000 AS max_score
        |FROM p GROUP BY 1, 2""".stripMargin,

    "q248_readability" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents),
        |f AS (
        |  SELECT *, CAST(floor((206.835
        |      - 1.015 * n_words / n_sentences
        |      - 84.6 * n_syllables / n_words) * 1000000 + 0.5)
        |    AS BIGINT) AS f6
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(f6 AS DOUBLE) / 1000000 AS flesch,
        |  CASE WHEN f6 >= 90000000 THEN 'very_easy'
        |       WHEN f6 >= 70000000 THEN 'easy'
        |       WHEN f6 >= 50000000 THEN 'medium'
        |       WHEN f6 >= 30000000 THEN 'difficult'
        |       ELSE 'very_difficult' END AS band
        |FROM f""".stripMargin,

    // RE2 spells the Cyrillic block \p{Cyrillic} (Java: \p{IsCyrillic})
    "q249_homoglyph" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN translate(text, 'oe', 'ое') ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(t, ' '),
        |    x -> regexp_matches(x, '\p{Cyrillic}'))) AS BIGINT) AS n_cyrillic,
        |  CAST(len(list_filter(string_split(t, ' '),
        |    x -> regexp_matches(x, '\p{Cyrillic}')
        |      AND regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_mixed,
        |  len(list_filter(string_split(t, ' '),
        |    x -> regexp_matches(x, '\p{Cyrillic}')
        |      AND regexp_matches(x, '[a-zA-Z]'))) > 0 AS spoof
        |FROM d""".stripMargin,

    "q250_luhn" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    lpad(CAST((doc_id * 2654435761 + 123456789)
        |      % 10000000000000000 AS VARCHAR), 16, '0') AS pan_candidate
        |  FROM documents)
        |SELECT doc_id, pan_candidate,
        |  list_sum(list_transform(range(16), i ->
        |    CASE WHEN i % 2 = 1 THEN
        |      CASE WHEN 2 * CAST(substr(pan_candidate, 16 - i, 1) AS INT) > 9
        |        THEN 2 * CAST(substr(pan_candidate, 16 - i, 1) AS INT) - 9
        |        ELSE 2 * CAST(substr(pan_candidate, 16 - i, 1) AS INT) END
        |      ELSE CAST(substr(pan_candidate, 16 - i, 1) AS INT) END))
        |    % 10 = 0 AS luhn_ok
        |FROM d""".stripMargin,

    "q251_acf" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT series, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS s2
        |  FROM daily GROUP BY 1),
        |lg AS (
        |  SELECT a.series, l.lag, CAST(sum(a.v * b.v) AS BIGINT) AS p,
        |    CAST(sum(a.v + b.v) AS BIGINT) AS q,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM daily a
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
        |  JOIN daily b ON b.series = a.series
        |    AND b.day = a.day + CAST(l.lag AS INTEGER)
        |  GROUP BY 1, 2)
        |SELECT lg.series, CAST(lg.lag AS BIGINT) AS lag, lg.c AS n_pairs,
        |  CASE WHEN st.n * st.n * st.s2 - st.n * st.s * st.s <> 0 THEN
        |    floor(CAST(st.n * st.n * lg.p - st.n * st.s * lg.q
        |        + lg.c * st.s * st.s AS DOUBLE)
        |      / CAST(st.n * st.n * st.s2 - st.n * st.s * st.s AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000
        |  END AS acf
        |FROM lg JOIN st ON st.series = lg.series""".stripMargin,

    "q252_kaplan_meier" -> KmSessionOracleSql,
    "q331_km_board_digest" -> KmDigestSql,
    "q333_lsh_recall_board" -> LshRecallBoardSql,

    // the tuner's selection rule over the identical board: cheapest
    // qualifying config (n_cand asc, then b*r, then bands)
    "q340_lsh_autotune" ->
      s"""SELECT bands, rows_per_band, n_cand, recall_p6
         |FROM ($LshRecallBoardSql) __board
         |WHERE recall_p6 >= 950000
         |ORDER BY n_cand, bands * rows_per_band, bands
         |LIMIT 1""".stripMargin,

    "q318_kaplan_meier_v2" -> withBoardChecksumSql(KmSessionOracleSql),

    "q319_user_survival_v2" -> withBoardChecksumSql(KmUserOracleSql),

    "q253_hbos" ->
      """WITH o AS (
        |  SELECT o_orderkey AS id, o_totalprice AS v,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      % 7 AS dow,
        |    o_orderpriority AS prio
        |  FROM orders),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx FROM o),
        |b AS (
        |  SELECT id, CASE WHEN mx > mn THEN
        |      least(19, CAST(floor((v - mn) / (mx - mn) * 20) AS BIGINT))
        |    ELSE 0 END AS bp, dow, prio
        |  FROM o, st),
        |cp AS (SELECT bp, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |cd AS (SELECT dow, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |cr AS (SELECT prio, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |sc AS (
        |  SELECT b.id,
        |    CAST(floor(ln(CAST(st.n AS DOUBLE) / CAST(cp.c AS DOUBLE))
        |      * 1000000 + 0.5) AS BIGINT)
        |    + CAST(floor(ln(CAST(st.n AS DOUBLE) / CAST(cd.c AS DOUBLE))
        |      * 1000000 + 0.5) AS BIGINT)
        |    + CAST(floor(ln(CAST(st.n AS DOUBLE) / CAST(cr.c AS DOUBLE))
        |      * 1000000 + 0.5) AS BIGINT) AS s6
        |  FROM b JOIN cp USING (bp) JOIN cd USING (dow)
        |    JOIN cr USING (prio), st)
        |SELECT id AS o_orderkey, CAST(s6 AS DOUBLE) / 1000000 AS hbos
        |FROM sc ORDER BY s6 DESC, id LIMIT 100""".stripMargin,

    "q254_bh_fdr" ->
      """WITH cells AS (
        |  SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS obs
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT r, CAST(sum(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
        |tz AS (
        |  SELECT cells.r, cells.c, obs,
        |    CAST(rt.rt * ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS ex
        |  FROM cells JOIN rt USING (r) JOIN ct USING (c), nn),
        |t2 AS (
        |  SELECT r, c, obs,
        |    floor(ex * 1000000 + 0.5) / 1000000 AS expected,
        |    floor((CAST(obs AS DOUBLE) - ex) / sqrt(ex) * 1000000 + 0.5)
        |      / 1000000 AS z,
        |    CAST(floor(2.0 / (1.0 + exp(1.702
        |      * abs((CAST(obs AS DOUBLE) - ex) / sqrt(ex)))) * 1000000 + 0.5)
        |      AS BIGINT) AS p6
        |  FROM tz),
        |rk AS (
        |  SELECT t2.*, CAST(row_number() OVER (ORDER BY p6, r, c) AS BIGINT)
        |    AS rank, mm.m
        |  FROM t2, (SELECT CAST(count(*) AS BIGINT) AS m FROM t2) mm),
        |km AS (SELECT coalesce(max(CASE WHEN p6 * m * 10 <= 1000000 * rank
        |  THEN rank END), 0) AS kmax FROM rk)
        |SELECT r AS source, c AS lang, obs, expected, z,
        |  CAST(p6 AS DOUBLE) / 1000000 AS p, rank, rank <= kmax AS discovery
        |FROM rk, km""".stripMargin,

    // sigma from exact integer sums, weights N*sigma6, largest-remainder
    // integer rounding, then the house (md5 hex, id) per-stratum rank
    "q255_neyman" ->
      """WITH st AS (
        |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(n_chars) AS BIGINT) AS s,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
        |  FROM documents GROUP BY 1),
        |sg AS (
        |  SELECT *, CAST(floor(sqrt(CAST(n_rows * s2 - s * s AS DOUBLE))
        |    / CAST(n_rows AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS sigma6
        |  FROM st),
        |w AS (SELECT *, n_rows * sigma6 AS w FROM sg),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
        |b AS (
        |  SELECT w.*, CASE WHEN tw > 0 THEN (200 * w) // tw ELSE 0 END AS base,
        |    CASE WHEN tw > 0 THEN (200 * w) % tw ELSE 0 END AS rem
        |  FROM w, tw),
        |ex AS (SELECT 200 - sum(base) AS extra FROM b),
        |al AS (
        |  SELECT b.*, row_number() OVER (ORDER BY rem DESC, stratum) AS rk,
        |    ex.extra
        |  FROM b, ex),
        |a2 AS (
        |  SELECT stratum, n_rows, sigma6,
        |    CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc
        |  FROM al),
        |sel AS (
        |  SELECT d.source AS stratum, d.n_chars,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 16),
        |        d.doc_id) AS rk
        |  FROM documents d),
        |pick AS (
        |  SELECT sel.stratum, CAST(count(*) AS BIGINT) AS n_selected,
        |    CAST(sum(n_chars) AS BIGINT) AS ssum
        |  FROM sel JOIN a2 USING (stratum) WHERE sel.rk <= a2.alloc
        |  GROUP BY 1)
        |SELECT a2.stratum, a2.n_rows,
        |  CAST(sigma6 AS DOUBLE) / 1000000 AS sigma, a2.alloc,
        |  coalesce(pick.n_selected, CAST(0 AS BIGINT)) AS n_selected,
        |  CASE WHEN coalesce(pick.n_selected, 0) > 0 THEN
        |    floor(CAST(ssum AS DOUBLE) / CAST(pick.n_selected AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS mean_selected
        |FROM a2 LEFT JOIN pick USING (stratum)""".stripMargin,

    // frontier via the per-x-max running-max sweep (the exact finish of
    // the Spark side's bucket-pruned plan)
    "q256_skyline" ->
      """WITH p AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |pt AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM p GROUP BY 1, 2),
        |mx AS (SELECT x, max(y) AS my FROM pt GROUP BY 1),
        |sw AS (
        |  SELECT x, my, max(my) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS above
        |  FROM mx)
        |SELECT pt.x AS price_c, pt.y AS day, pt.n_rows
        |FROM pt JOIN (SELECT x, my AS y FROM sw
        |  WHERE above IS NULL OR my > above) f
        |  ON pt.x = f.x AND pt.y = f.y""".stripMargin,

    "q257_adamic_adar" ->
      """WITH f AS (
        |  SELECT CASE WHEN count(*) > 300000 THEN 100
        |    WHEN count(*) > 30000 THEN 10 ELSE 1 END AS f
        |  FROM lineitem),
        |e AS (
        |  SELECT l_partkey % 1000 AS src, l_suppkey % 1000 AS dst
        |  FROM lineitem, f
        |  WHERE (l_orderkey * 31 + l_partkey) % f.f = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e WHERE src <> dst),
        |sym AS (SELECT u AS a, v AS b FROM und
        |        UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) AS d
        |  FROM sym GROUP BY 1),
        |kept AS (SELECT z, d FROM deg WHERE d <= 10000),
        |dr AS (SELECT CAST(coalesce(sum(CASE WHEN d > 10000 THEN 1
        |  ELSE 0 END), 0) AS BIGINT) AS dropped_centers FROM deg),
        |wg AS (
        |  SELECT x.b AS id_a, y.b AS id_b, x.a AS z
        |  FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
        |  JOIN kept k ON k.z = x.a),
        |sc AS (
        |  SELECT wg.id_a, wg.id_b, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(CAST(floor(1.0 / ln(CAST(d AS DOUBLE)) * 1000000000
        |      + 0.5) AS BIGINT)) AS BIGINT) AS s9
        |  FROM wg JOIN kept USING (z) GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common,
        |  CAST(s9 AS DOUBLE) / 1000000000 AS aa, dr.dropped_centers
        |FROM sc, dr WHERE NOT EXISTS (SELECT 1 FROM und
        |  WHERE und.u = sc.id_a AND und.v = sc.id_b)""".stripMargin,

    "q258_fd_discovery" ->
      """WITH c1 AS (SELECT count(DISTINCT o_custkey) AS nd, count(*) AS n
        |  FROM orders GROUP BY o_orderkey),
        |c2 AS (SELECT count(DISTINCT o_orderstatus) AS nd, count(*) AS n
        |  FROM orders GROUP BY o_custkey),
        |c3 AS (SELECT count(DISTINCT o_orderpriority) AS nd, count(*) AS n
        |  FROM orders GROUP BY o_custkey),
        |c4 AS (SELECT count(DISTINCT o_orderpriority) AS nd, count(*) AS n
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_violating_rows,
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds FROM c1
        |UNION ALL
        |SELECT 'o_custkey', 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 FROM c2
        |UNION ALL
        |SELECT 'o_custkey', 'o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 FROM c3
        |UNION ALL
        |SELECT 'o_orderstatus', 'o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 FROM c4""".stripMargin,

    "q259_burstiness" ->
      """WITH hourly AS (
        |  SELECT event_type AS series, date_trunc('hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT series, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS s2
        |  FROM hourly GROUP BY 1)
        |SELECT series, n_hours,
        |  floor(CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS mean_per_hour,
        |  floor(CAST(n_hours * s2 - s * s AS DOUBLE)
        |    / CAST(n_hours * s AS DOUBLE) * 1000000 + 0.5) / 1000000 AS fano
        |FROM st""".stripMargin,

    "q260_cramers_v" ->
      """WITH cells1 AS (
        |  SELECT o_orderstatus AS a, o_orderpriority AS b2,
        |    CAST(count(*) AS BIGINT) AS obs
        |  FROM orders GROUP BY 1, 2),
        |ra1 AS (SELECT a, CAST(sum(obs) AS BIGINT) AS rt FROM cells1 GROUP BY 1),
        |cb1 AS (SELECT b2, CAST(sum(obs) AS BIGINT) AS ct FROM cells1 GROUP BY 1),
        |nn1 AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |  CAST(count(DISTINCT a) AS BIGINT) AS r,
        |  CAST(count(DISTINCT b2) AS BIGINT) AS c FROM cells1),
        |t1 AS (
        |  SELECT CAST(floor((CAST(obs AS DOUBLE) - ex)
        |    * (CAST(obs AS DOUBLE) - ex) / ex * 1000000 + 0.5) AS BIGINT) AS t6
        |  FROM (SELECT coalesce(cells1.obs, 0) AS obs,
        |          CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS ex
        |        FROM ra1 CROSS JOIN cb1
        |        LEFT JOIN cells1 USING (a, b2), nn1)),
        |cells2 AS (
        |  SELECT l_returnflag AS a, l_linestatus AS b2,
        |    CAST(count(*) AS BIGINT) AS obs
        |  FROM lineitem GROUP BY 1, 2),
        |ra2 AS (SELECT a, CAST(sum(obs) AS BIGINT) AS rt FROM cells2 GROUP BY 1),
        |cb2 AS (SELECT b2, CAST(sum(obs) AS BIGINT) AS ct FROM cells2 GROUP BY 1),
        |nn2 AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |  CAST(count(DISTINCT a) AS BIGINT) AS r,
        |  CAST(count(DISTINCT b2) AS BIGINT) AS c FROM cells2),
        |t2 AS (
        |  SELECT CAST(floor((CAST(obs AS DOUBLE) - ex)
        |    * (CAST(obs AS DOUBLE) - ex) / ex * 1000000 + 0.5) AS BIGINT) AS t6
        |  FROM (SELECT coalesce(cells2.obs, 0) AS obs,
        |          CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS ex
        |        FROM ra2 CROSS JOIN cb2
        |        LEFT JOIN cells2 USING (a, b2), nn2))
        |SELECT 'o_orderstatus' AS col_a, 'o_orderpriority' AS col_b,
        |  nn1.n, nn1.r, nn1.c, CAST(sum(t6) AS DOUBLE) / 1000000 AS chi2,
        |  floor(sqrt((CAST(sum(t6) AS DOUBLE) / 1000000)
        |    / CAST(nn1.n * least(nn1.r - 1, nn1.c - 1) AS DOUBLE)) * 1000000
        |    + 0.5) / 1000000 AS v
        |FROM t1, nn1 GROUP BY nn1.n, nn1.r, nn1.c
        |UNION ALL
        |SELECT 'l_returnflag', 'l_linestatus',
        |  nn2.n, nn2.r, nn2.c, CAST(sum(t6) AS DOUBLE) / 1000000,
        |  floor(sqrt((CAST(sum(t6) AS DOUBLE) / 1000000)
        |    / CAST(nn2.n * least(nn2.r - 1, nn2.c - 1) AS DOUBLE)) * 1000000
        |    + 0.5) / 1000000
        |FROM t2, nn2 GROUP BY nn2.n, nn2.r, nn2.c""".stripMargin,

    "q261_mi_terms" ->
      """WITH pres AS (
        |  SELECT DISTINCT grp, doc_id, term FROM (
        |    SELECT source AS grp, doc_id,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        |    FROM documents) WHERE term <> ''),
        |nts AS (SELECT term, grp, CAST(count(*) AS BIGINT) AS nts
        |  FROM pres GROUP BY 1, 2),
        |nt AS (SELECT term, CAST(sum(nts) AS BIGINT) AS nt FROM nts GROUP BY 1),
        |ns AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS ns
        |  FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
        |grid AS (
        |  SELECT nt.term, nt.nt, ns.grp, ns.ns,
        |    coalesce(nts.nts, 0) AS c11, ns.ns - coalesce(nts.nts, 0) AS c01,
        |    nn.nn
        |  FROM nt CROSS JOIN ns
        |  LEFT JOIN nts ON nts.term = nt.term AND nts.grp = ns.grp, nn),
        |t AS (
        |  SELECT term, nt,
        |    (CASE WHEN c11 > 0 THEN
        |      CAST(floor(CAST(c11 AS DOUBLE) / CAST(nn AS DOUBLE)
        |        * ln(CAST(c11 * nn AS DOUBLE) / CAST(nt * ns AS DOUBLE))
        |        * 1000000 + 0.5) AS BIGINT) ELSE 0 END
        |    + CASE WHEN c01 > 0 AND nn > nt THEN
        |      CAST(floor(CAST(c01 AS DOUBLE) / CAST(nn AS DOUBLE)
        |        * ln(CAST(c01 * nn AS DOUBLE)
        |          / CAST((nn - nt) * ns AS DOUBLE))
        |        * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS t6
        |  FROM grid)
        |SELECT term, max(nt) AS n_docs, CAST(sum(t6) AS DOUBLE) / 1000000 AS mi
        |FROM t GROUP BY term ORDER BY sum(t6) DESC, term LIMIT 20""".stripMargin,

    "q262_transition_entropy" ->
      """WITH bi AS (
        |  SELECT user_id, event_type AS s, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events),
        |cnt AS (SELECT user_id, s, t, CAST(count(*) AS BIGINT) AS c
        |  FROM bi WHERE t IS NOT NULL GROUP BY 1, 2, 3),
        |cs AS (SELECT user_id, s, CAST(sum(c) AS BIGINT) AS cs
        |  FROM cnt GROUP BY 1, 2),
        |ct AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS ct
        |  FROM cnt GROUP BY 1),
        |t6 AS (
        |  SELECT cnt.user_id, ct,
        |    CAST(floor(CAST(c AS DOUBLE) / CAST(ct AS DOUBLE)
        |      * ln(CAST(cs AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS t6
        |  FROM cnt JOIN cs USING (user_id, s) JOIN ct USING (user_id))
        |SELECT user_id, max(ct) AS n_transitions,
        |  CAST(sum(t6) AS DOUBLE) / 1000000 AS cond_entropy
        |FROM t6 GROUP BY 1""".stripMargin,

    // same hashed-bucket model as q191, full smoothed grid, JS terms
    "q263_jsd_drift" ->
      """WITH toks AS (
        |  SELECT source, t AS term FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |bk AS (
        |  SELECT source AS grp,
        |    CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 256 AS bk,
        |    count(*) AS cg
        |  FROM toks GROUP BY 1, 2),
        |corpus AS (SELECT bk.bk, sum(cg) AS cc FROM bk GROUP BY 1),
        |gtot AS (SELECT grp, sum(cg) AS tg FROM bk GROUP BY 1),
        |ctot AS (SELECT sum(cc) AS tc FROM corpus),
        |grid AS (
        |  SELECT g.grp, g.tg, c.bk, c.cc, ct.tc, coalesce(b.cg, 0) AS cg
        |  FROM gtot g CROSS JOIN corpus c
        |  LEFT JOIN bk b ON b.grp = g.grp AND b.bk = c.bk
        |  CROSS JOIN ctot ct),
        |t AS (
        |  SELECT grp, tg, round(
        |    ((cg + 1.0) / (tg + 256.0)) / 2 * ln(((cg + 1.0) / (tg + 256.0))
        |      / ((((cg + 1.0) / (tg + 256.0))
        |        + ((cc + 1.0) / (tc + 256.0))) / 2))
        |    + ((cc + 1.0) / (tc + 256.0)) / 2 * ln(((cc + 1.0) / (tc + 256.0))
        |      / ((((cg + 1.0) / (tg + 256.0))
        |        + ((cc + 1.0) / (tc + 256.0))) / 2)), 6) AS t6
        |  FROM grid)
        |SELECT grp, CAST(max(tg) AS BIGINT) AS n_tokens,
        |  round(sum(t6), 6) AS jsd
        |FROM t GROUP BY grp""".stripMargin,

    "q264_ccf" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT a.series AS series_x, b.series AS series_y, l.lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(a.v * b.v) AS BIGINT) AS sxy,
        |    CAST(sum(a.v) AS BIGINT) AS sx1, CAST(sum(b.v) AS BIGINT) AS sy1,
        |    CAST(sum(a.v * a.v) AS BIGINT) AS sxx,
        |    CAST(sum(b.v * b.v) AS BIGINT) AS syy
        |  FROM daily a
        |  CROSS JOIN (SELECT unnest(range(-3, 4)) AS lag) l
        |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
        |    AND a.series < b.series
        |  GROUP BY 1, 2, 3)
        |SELECT series_x, series_y, CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN n_pairs >= 3
        |      AND n_pairs * sxx - sx1 * sx1 > 0
        |      AND n_pairs * syy - sy1 * sy1 > 0 THEN
        |    floor(CAST(n_pairs * sxy - sx1 * sy1 AS DOUBLE)
        |      / sqrt(CAST(n_pairs * sxx - sx1 * sx1 AS DOUBLE)
        |        * CAST(n_pairs * syy - sy1 * sy1 AS DOUBLE))
        |      * 1000000 + 0.5) / 1000000
        |  END AS ccf
        |FROM g""".stripMargin,

    "q265_chao1" ->
      """WITH docs AS (
        |  SELECT string_split(lower(text), ' ') AS toks FROM documents),
        |grams AS (
        |  SELECT d.toks[t.i] || ' ' || d.toks[t.i + 1] || ' '
        |    || d.toks[t.i + 2] || ' ' || d.toks[t.i + 3] AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 2)) AS i) t
        |  WHERE len(d.toks) >= 4
        |  UNION ALL
        |  SELECT array_to_string(toks, ' ') FROM docs WHERE len(toks) < 4),
        |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS v,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(count(*) AS DOUBLE)
        |    + floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |        * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000
        |  ELSE CAST(count(*) AS DOUBLE)
        |    + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |      * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE) / 2.0
        |  END AS chao1
        |FROM cnt""".stripMargin,

    // Funnel: all comparisons in epoch-microseconds, mirroring the Spark
    // side's ns->us truncation (Tables.load `ts div 1000`).
    "q104_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events),
        |s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN tsu END)
        |    OVER (PARTITION BY user_id) AS t1 FROM ev),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND tsu > t1
        |                      AND tsu <= t1 + 86400000000 THEN tsu END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND tsu > t2
        |                      AND tsu <= t2 + 86400000000 THEN tsu END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2),
        |u AS (
        |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |  FROM s3 GROUP BY user_id)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2
        |                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1""".stripMargin,

    "q105_rank_family" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist,
        |  o_totalprice - lag(o_totalprice) OVER w AS delta_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,

    // Five unrolled grid-snapped PageRank iterations (PageRankIterCtes),
    // same IEEE expression tree as operators.PageRank.
    "q310_ppr" ->
      ("""WITH e AS (
        |  SELECT DISTINCT l_partkey % 100 AS src, l_suppkey % 100 AS dst
        |  FROM lineitem WHERE l_partkey % 100 <> l_suppkey % 100),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |seeds AS (SELECT unnest([0, 1, 2]) AS node),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |edeg AS (SELECT e.src, e.dst, o.outdeg
        |  FROM e JOIN outdeg o ON e.src = o.src),
        |pr0 AS (
        |  SELECT n.node, CASE WHEN s.node IS NOT NULL
        |    THEN (2000000 + 3) // (2 * 3)
        |    ELSE 0 END AS pr6
        |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
        |""".stripMargin +
        (0 until 5).map(i => PprIterCtes(i, k = 3)).mkString(",\n") + "\n" +
        """SELECT node, CAST(pr6 AS DOUBLE) / 1000000 AS pr FROM pr5""".stripMargin),

    "q106_pagerank" ->
      ("""WITH e AS (
        |  SELECT DISTINCT l_partkey % 100 AS src, l_suppkey % 100 AS dst
        |  FROM lineitem WHERE l_partkey % 100 <> l_suppkey % 100),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |edeg AS (SELECT e.src, e.dst, o.outdeg FROM e JOIN outdeg o ON e.src = o.src),
        |pr0 AS (
        |  SELECT node, (2000000 + nn.n) // (2 * nn.n) AS pr6 FROM nodes, nn),
        |""".stripMargin +
        (0 until 5).map(PageRankIterCtes).mkString(",\n") + "\n" +
        """SELECT node, CAST(pr6 AS DOUBLE) / 1000000 AS pr FROM pr5""".stripMargin),

    "q107_robust_outliers" ->
      """WITH rk AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS r,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |med AS (SELECT g, v AS med FROM rk WHERE r = (n + 1) // 2),
        |dev AS (
        |  SELECT rk.g, rk.v, m.med, abs(rk.v - m.med) AS d
        |  FROM rk JOIN med m ON rk.g = m.g),
        |rk2 AS (
        |  SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS r,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM dev),
        |mad AS (SELECT g, d AS mad FROM rk2 WHERE r = (n + 1) // 2)
        |SELECT d.g AS l_returnflag, max(d.med) AS med, max(m.mad) AS mad,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN d.d > CAST(3 AS DOUBLE) * 1.4826 * m.mad
        |                THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d JOIN mad m ON d.g = m.g GROUP BY d.g""".stripMargin,

    "q113_regression" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q114_moving_window" ->
      """SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER w, 2) AS mv_sum,
        |  CAST(count(*) OVER w AS BIGINT) AS mv_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |             RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q115_revenue_share" ->
      """WITH bn AS (
        |  SELECT n_name, round(sum(o_totalprice), 2) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |tot AS (SELECT round(sum(rev), 2) AS tot FROM bn)
        |SELECT n_name, rev, floor(rev / t.tot * 1e6 + 0.5) / 1e6 AS share
        |FROM bn, tot t""".stripMargin,

    // Lines replayed as strings (Spark shuffles xxhash64 of them);
    // keep = df==1 OR canonical (min-doc) copy; reassembly orders by idx.
    "q116_line_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lines AS (
        |  SELECT doc_id, t.i AS idx,
        |    array_to_string(toks[(t.i*8+1):(t.i*8+8)], ' ') AS line
        |  FROM docs, LATERAL (SELECT unnest(range(0,
        |    CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i) t),
        |st AS (
        |  SELECT line, count(DISTINCT doc_id) AS line_df, min(doc_id) AS min_doc
        |  FROM lines GROUP BY line),
        |k AS (
        |  SELECT l.doc_id, l.idx, l.line,
        |    (s.line_df = 1 OR l.doc_id = s.min_doc) AS keep
        |  FROM lines l JOIN st s ON l.line = s.line)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep THEN line END, ' ' ORDER BY idx), '')
        |    AS clean_text
        |FROM k GROUP BY doc_id""".stripMargin,

    // Monday-truncated weeks: the day difference is exactly divisible
    // by 7, so integer division is the exact week offset.
    "q117_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |wc AS (
        |  SELECT u, wk, min(wk) OVER (PARTITION BY u) AS cohort_week FROM weeks),
        |cnt AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset,
        |    CAST(count(DISTINCT u) AS BIGINT) AS n_active
        |  FROM wc GROUP BY 1, 2),
        |sz AS (
        |  SELECT cohort_week, week_offset, n_active,
        |    max(CASE WHEN week_offset = 0 THEN n_active END)
        |      OVER (PARTITION BY cohort_week) AS cohort_size
        |  FROM cnt)
        |SELECT cohort_week, week_offset, n_active, cohort_size,
        |  floor(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS retention
        |FROM sz""".stripMargin,

    // Running-max island construction on epoch-µs longs; touching
    // intervals (start == running max end) merge — half-open semantics.
    "q118_interval_coverage" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS end_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, start_us, end_us,
        |    CASE WHEN start_us > max(end_us) OVER (PARTITION BY user_id
        |        ORDER BY start_us, end_us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, start_us, end_us,
        |    sum(new_island) OVER (PARTITION BY user_id
        |      ORDER BY start_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged),
        |merged AS (
        |  SELECT user_id, island, min(start_us) AS start_us, max(end_us) AS end_us,
        |    CAST(count(*) AS BIGINT) AS n_source
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, CAST(sum(n_source) AS BIGINT) AS n_raw,
        |  CAST(count(*) AS BIGINT) AS n_merged,
        |  CAST(sum(end_us - start_us) AS BIGINT) AS covered_us,
        |  CAST(max(end_us) - min(start_us) AS BIGINT) AS span_us
        |FROM merged GROUP BY user_id""".stripMargin,

    // Dense per-key day grid via generate_series; forward fill copies
    // the 2dp grid point — no further float arithmetic.
    "q119_resample_ffill" ->
      """WITH daily AS (
        |  SELECT user_id AS key, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
        |      AS daily_total
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT key, min(day) AS mind, max(day) AS maxd FROM daily GROUP BY key),
        |grid AS (
        |  SELECT key, CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.key, g.day, d.n_events, d.daily_total
        |  FROM grid g LEFT JOIN daily d ON g.key = d.key AND g.day = d.day)
        |SELECT key, day, coalesce(n_events, 0) AS n_events, daily_total,
        |  last_value(daily_total IGNORE NULLS) OVER (PARTITION BY key ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_total,
        |  (daily_total IS NOT NULL) AS is_observed
        |FROM j""".stripMargin,

    // The identical polynomial mod 2^31-1; DuckDB's BIGINT sum widens to
    // HUGEINT, matching Spark's DECIMAL(38,0) accumulator.
    "q120_table_checksum" ->
      """WITH mixed AS (
        |  SELECT o_orderstatus,
        |    ((((((17 * 1000003
        |      + coalesce(((o_orderkey % 2147483647) + 2147483647) % 2147483647,
        |                 2147483646)) % 2147483647) * 1000003
        |      + coalesce(((o_custkey % 2147483647) + 2147483647) % 2147483647,
        |                 2147483646)) % 2147483647) * 1000003
        |      + coalesce(((date_diff('day', DATE '1970-01-01',
        |                    CAST(o_orderdate AS DATE)) % 2147483647)
        |                  + 2147483647) % 2147483647,
        |                 2147483646)) % 2147483647) * 1000003
        |      + coalesce(((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    % 2147483647) + 2147483647) % 2147483647,
        |                 2147483646) AS premix
        |  FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(premix % 2147483647) % 2147483647 AS BIGINT) AS checksum
        |FROM mixed GROUP BY o_orderstatus""".stripMargin,

    // Exact BIGINT counts; products stay under 2^53 so the doubles are
    // exact until the single division; then the house 6dp grid.
    "q121_collocations" ->
      """WITH filt AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT tk[t.i] AS w1, tk[t.i + 1] AS w2
        |  FROM filt, LATERAL (SELECT unnest(range(1, len(tk))) AS i) t
        |  WHERE len(tk) >= 2),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM pairs GROUP BY 1, 2),
        |uni AS (
        |  SELECT u AS term, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(tk) AS u FROM filt) GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM uni)
        |SELECT b.w1, b.w2, b.n_ab, ua.n AS n_a, ub.n AS n_b,
        |  floor(CAST(b.n_ab AS DOUBLE) * CAST(t.n_total AS DOUBLE)
        |    / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS lift
        |FROM bi b
        |JOIN uni ua ON b.w1 = ua.term
        |JOIN uni ub ON b.w2 = ub.term, tot t
        |WHERE b.n_ab >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin,

    // 1e-4 integer grid -> exact sums/dots/norms; cosine against the
    // unnormalized SUM vector (scale-invariant); fixed IEEE op sequence.
    "q122_label_centroids" ->
      """WITH q AS (
        |  SELECT label, vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1e4 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |expl AS (
        |  SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q),
        |sums AS (
        |  SELECT label, pos, CAST(sum(v) AS BIGINT) AS s FROM expl GROUP BY label, pos),
        |cent AS (SELECT label, list(s ORDER BY pos) AS cv FROM sums GROUP BY label),
        |m AS (SELECT q.label, q.id, q.qv, c.cv FROM q JOIN cent c USING (label)),
        |sc AS (
        |  SELECT label, id,
        |    CAST((SELECT sum(a * b) FROM (SELECT unnest(qv) AS a, unnest(cv) AS b))
        |      AS BIGINT) AS dotqc,
        |    CAST((SELECT sum(a * a) FROM (SELECT unnest(qv) AS a)) AS BIGINT) AS n2q,
        |    CAST((SELECT sum(b * b) FROM (SELECT unnest(cv) AS b)) AS BIGINT) AS n2c
        |  FROM m),
        |cz AS (
        |  SELECT label, n2c,
        |    CASE WHEN n2q = 0 OR n2c = 0 THEN 0
        |      ELSE CAST(floor(CAST(dotqc AS DOUBLE)
        |        / sqrt(CAST(n2q AS DOUBLE) * CAST(n2c AS DOUBLE)) * 1e6 + 0.5)
        |        AS BIGINT) END AS cos6
        |  FROM sc)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
        |  floor(sqrt(CAST(max(n2c) AS DOUBLE)) / count(*) / 1e4 * 1e6 + 0.5) / 1e6
        |    AS centroid_norm,
        |  floor(CAST(sum(cos6) AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_cos,
        |  CAST(min(cos6) AS DOUBLE) / 1e6 AS min_cos,
        |  CAST(max(cos6) AS DOUBLE) / 1e6 AS max_cos
        |FROM cz GROUP BY label""".stripMargin,

    // n_chunks = 1 if n <= 64 else ceil((n-64)/48)+1; chunk i is the
    // 1-based token slice [i*48+1, i*48+64] (tail clamps).
    "q123_doc_chunks" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |nc AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 64 THEN 1
        |      ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1 END AS n
        |  FROM docs)
        |SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[(t.i*48+1):(t.i*48+64)], ' ') AS chunk_text,
        |  CAST(len(toks[(t.i*48+1):(t.i*48+64)]) AS BIGINT) AS n_tokens
        |FROM nc, LATERAL (SELECT unnest(range(0, n)) AS i) t""".stripMargin,

    "q124_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT t AS term FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnt),
        |top AS (
        |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
        |  FROM cnt QUALIFY rank <= 32)
        |SELECT CAST(rank AS BIGINT) AS rank, term, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt,
        |  floor(CAST(sum(cnt) OVER (ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(t.n_total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS coverage
        |FROM top, tot t""".stripMargin,

    // each (user, day) contributes to window-end days day..day+6,
    // clipped at the last observed day; DAU left-joined (0 when the day
    // itself is quiet but inside someone's window).
    "q125_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS max_d FROM ud),
        |dau AS (SELECT d AS day, CAST(count(DISTINCT u) AS BIGINT) AS dau
        |        FROM ud GROUP BY d),
        |wau AS (
        |  SELECT CAST(unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS DATE)
        |    AS day, u
        |  FROM ud),
        |wc AS (
        |  SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS active_7
        |  FROM wau, mx WHERE day <= mx.max_d GROUP BY day)
        |SELECT w.day, coalesce(dau.dau, 0) AS dau, w.active_7
        |FROM wc w LEFT JOIN dau ON w.day = dau.day""".stripMargin,

    // consecutive days share anchor = day - row_number (lockstep walk).
    "q126_streaks" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |a AS (
        |  SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
        |      AS anchor
        |  FROM ud),
        |runs AS (
        |  SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
        |  FROM a GROUP BY user_id, anchor)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(max(len) AS BIGINT) AS longest_streak
        |FROM runs GROUP BY user_id""".stripMargin,

    // One-pass funnel replay: later stages see earlier flags through the
    // same windows (min surviving id per digest; running survivor count
    // per source in md5 order).
    "q127_attrition" ->
      """WITH f AS (
        |  SELECT doc_id, source, md5(text) AS h,
        |    (CAST(len(string_split(text, ' ')) AS BIGINT) BETWEEN 50 AND 100000
        |     AND round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |           / len(string_split(text, ' ')), 6) BETWEEN 3 AND 10
        |     AND round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
        |            + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
        |           / len(string_split(text, ' ')), 6) < 0.1
        |     AND round(CAST(len(string_split(text, '. '))
        |            - len(list_distinct(string_split(text, '. '))) AS DOUBLE)
        |           / len(string_split(text, '. ')), 6) < 0.3) AS f1
        |  FROM documents),
        |d AS (
        |  SELECT *, (f1 AND doc_id = min(CASE WHEN f1 THEN doc_id END)
        |    OVER (PARTITION BY h)) AS f2
        |  FROM f),
        |r AS (
        |  SELECT *, sum(CASE WHEN f2 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY source ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
        |  FROM d),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN f2 AND rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM r)
        |SELECT 'quality' AS stage, n0 AS n_in, n1 AS n_out FROM g
        |UNION ALL SELECT 'exact_dedup', n1, n2 FROM g
        |UNION ALL SELECT 'source_cap', n2, n3 FROM g""".stripMargin,

    // exact integer window moments -> fixed IEEE derivation -> 6dp grid;
    // zero-variance windows z-score to 0.
    "q128_daily_anomalies" ->
      """WITH daily AS (
        |  SELECT event_type AS series, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT series, day, n,
        |    sum(n) OVER win AS s, sum(n * n) OVER win AS s2, count(*) OVER win AS c
        |  FROM daily
        |  WINDOW win AS (PARTITION BY series ORDER BY day
        |                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |z AS (
        |  SELECT series, day, n,
        |    CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(c AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(c AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) AS v
        |  FROM w),
        |zz AS (
        |  SELECT series, day, n, floor(m * 1e6 + 0.5) / 1e6 AS mean_w,
        |    CASE WHEN v > 0
        |      THEN floor((CAST(n AS DOUBLE) - m) / sqrt(v) * 1e6 + 0.5) / 1e6
        |      ELSE 0.0 END AS z
        |  FROM z)
        |SELECT series, day, n, mean_w, z, (abs(z) >= 2.0) AS is_anomaly
        |FROM zz""".stripMargin,

    // compact-forward: degree-oriented wedges closed against the
    // canonical undirected edge set.
    "q129_triangles" ->
      """WITH f AS (
        |  SELECT CASE WHEN count(*) > 300000 THEN 100
        |    WHEN count(*) > 30000 THEN 10 ELSE 1 END AS f
        |  FROM lineitem),
        |e AS (
        |  SELECT l_partkey % 1000 AS src, l_suppkey % 1000 AS dst
        |  FROM lineitem, f
        |  WHERE (l_orderkey * 31 + l_partkey) % f.f = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e WHERE src <> dst),
        |deg AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und) GROUP BY x),
        |orient AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
        |      THEN v ELSE u END AS d
        |  FROM und JOIN deg da ON und.u = da.x JOIN deg db ON und.v = db.x),
        |wedges AS (
        |  SELECT a.d AS b, b2.d AS c
        |  FROM orient a JOIN orient b2 ON a.s = b2.s WHERE a.d < b2.d),
        |closed AS (
        |  SELECT * FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM und WHERE und.u = w.b AND und.v = w.c))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM closed) AS n_triangles""".stripMargin,

    "q177_bfs_distances" ->
      """WITH RECURSIVE f AS (
        |  SELECT CASE WHEN count(*) > 300000 THEN 100
        |    WHEN count(*) > 30000 THEN 10 ELSE 1 END AS f
        |  FROM lineitem),
        |e AS (
        |  SELECT l_partkey % 1000 AS src, l_suppkey % 1000 AS dst
        |  FROM lineitem, f
        |  WHERE (l_orderkey * 31 + l_partkey) % f.f = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e WHERE src <> dst),
        |sym AS (SELECT u AS s, v AS d FROM und
        |        UNION ALL SELECT v, u FROM und),
        |walk(id, dist) AS (
        |  SELECT CAST(x AS BIGINT), 0 FROM (VALUES (0), (1), (2)) t(x)
        |  UNION
        |  SELECT sym.d, walk.dist + 1 FROM walk
        |  JOIN sym ON sym.s = walk.id WHERE walk.dist < 3)
        |SELECT id, CAST(min(dist) AS INT) AS dist
        |FROM walk GROUP BY id""".stripMargin,

    // replays the q88 BM25 ranking (top-20), the q35 cosine ranking vs
    // doc 0 (top-20), then the integer-reciprocal fusion: part =
    // 1e9 div (60 + rank), summed per doc, final top-10
    "q178_hybrid_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM documents,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen),
        |q AS (SELECT unnest(['spark', 'vector', 'stream']) AS term),
        |hits AS (
        |  SELECT tf.doc_id,
        |    sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |        tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))) AS s
        |  FROM tf JOIN df USING (term) JOIN dlen USING (doc_id) CROSS JOIN stats
        |  JOIN q ON tf.term = q.term
        |  GROUP BY 1),
        |lex AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY round(s, 4) DESC, doc_id ASC) AS rank
        |    FROM hits) WHERE rank <= 20),
        |cand AS (
        |  SELECT CAST(0 AS BIGINT) AS query_id, vec_id
        |  FROM embeddings WHERE vec_id <> 0),
        |scored AS (
        |  SELECT c.vec_id,
        |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0 THEN dot / (sqrt(nq) * sqrt(nc))
        |               ELSE 0.0 END, 6) AS cosine
        |  FROM (
        |    SELECT c.vec_id,
        |      (SELECT sum(CAST(x * y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) AS dot,
        |      (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x)) AS nq,
        |      (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)) AS nc
        |    FROM cand c
        |    JOIN embeddings q ON q.vec_id = c.query_id
        |    JOIN embeddings e ON e.vec_id = c.vec_id) c),
        |sem AS (
        |  SELECT vec_id AS doc_id, rank FROM (
        |    SELECT vec_id,
        |      row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
        |    FROM scored) WHERE rank <= 20),
        |parts AS (
        |  SELECT doc_id, 1000000000 // (60 + rank) AS part FROM lex
        |  UNION ALL
        |  SELECT doc_id, 1000000000 // (60 + rank) FROM sem),
        |fused AS (
        |  SELECT doc_id, CAST(sum(part) AS BIGINT) AS rrf_ppb,
        |    CAST(count(*) AS BIGINT) AS n_lists
        |  FROM parts GROUP BY 1)
        |SELECT doc_id, rrf_ppb, n_lists, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT doc_id, rrf_ppb, n_lists,
        |    row_number() OVER (ORDER BY rrf_ppb DESC, doc_id ASC) AS rank
        |  FROM fused) WHERE rank <= 10""".stripMargin,

    // replays the md5-prefix hash, the mod-8 shard, the per-shard (h, id)
    // rank, and the round-robin interleave position
    "q179_training_order" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, h, h % 8 AS shard FROM h)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(pos AS BIGINT) AS pos,
        |  CAST(pos * 8 + shard AS BIGINT) AS global_pos
        |FROM (
        |  SELECT doc_id, shard,
        |    row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC) - 1 AS pos
        |  FROM s)""".stripMargin,

    // hard integer replay of the zero-merge and fixed-('t','h')-merge
    // token counts (the latter via the non-overlapping replace law:
    // merging all leftmost (t,h) adjacencies in a word removes exactly
    // one symbol per replace('th') occurrence); trained-path invariants
    // pinned TRUE
    "q180_bpe_tokenize" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS canon,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                         x -> x <> '')) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  n_alnum + n_words AS n_tokens_base,
        |  n_alnum + n_words -
        |    (length(canon) - length(replace(canon, 'th', ''))) // 2 AS n_tokens_th,
        |  TRUE AS trained_ge_words, TRUE AS trained_le_base,
        |  TRUE AS roundtrip_ok, TRUE AS n_merges_ok
        |FROM c""".stripMargin,

    // full recompute over ALL orders == the incrementally maintained
    // state (exact cents partials make that bit-for-bit).
    "q130_incremental_agg" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS min_cents,
        |  CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS max_cents,
        |  floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 100 * 1e6 + 0.5) / 1e6 AS avg_amount
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q161_time_to_convert" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, fv.first_view, e.ts
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view)
        |SELECT user_id,
        |  CAST(max(epoch_us(first_view)) AS BIGINT) AS first_view_us,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS first_purchase_us,
        |  (CAST(min(epoch_us(ts)) AS BIGINT)
        |    - CAST(max(epoch_us(first_view)) AS BIGINT)) // 1000000 AS gap_s
        |FROM p GROUP BY user_id""".stripMargin,

    // same quota CTE as q92, then the exact integer threshold rule:
    // T = q*2^32 // n in HUGEINT (matches the Spark driver's BigInt),
    // membership = 32-bit md5 prefix under T
    "q163_hash_threshold_sample" ->
      """WITH cnt AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |quota AS (
        |  SELECT lang, n,
        |    CAST(floor(((SELECT sum(n) FROM cnt) * 3 // 5)
        |      * pow(n, 0.5) / (SELECT sum(pow(n, 0.5)) FROM cnt)) AS BIGINT) AS q
        |  FROM cnt),
        |thr AS (
        |  SELECT lang,
        |    CAST(least(CAST(q AS HUGEINT) * 4294967296 // n, 4294967296)
        |      AS BIGINT) AS t
        |  FROM quota)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(d.doc_id) AS BIGINT) AS sum_doc_id
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE CAST(concat('0x', substr(md5(d.text), 1, 8)) AS BIGINT) < thr.t
        |GROUP BY d.lang""".stripMargin,

    // the Spark side ran publish -> idempotent re-append -> deleteWhere
    // -> compact -> stats-pruned read against a manifest-committed
    // table; the oracle is the same end state computed relationally
    "q162_manifest_commit" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS anio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1996
        |  AND o_orderpriority <> '1-URGENT'
        |GROUP BY 1""".stripMargin,

    // the bloom-pruned point lookup must equal the relational lookup:
    // every document whose content digest equals doc 42's
    "q181_bloom_point_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 42)
        |""".stripMargin,

    // a purchase at the exact click instant counts (gap 0, inclusive);
    // clicks strictly after the purchase never visible (running window)
    "q160_attribution" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
        |  FROM events),
        |p AS (
        |  SELECT user_id, tsu - lc AS gap_us,
        |    (lc IS NOT NULL AND tsu - lc <= 604800000000) AS attributed
        |  FROM s WHERE event_type = 'purchase')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_attributed,
        |  floor(CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e6 + 0.5) / 1e6 AS attribution_rate,
        |  CAST(min(CASE WHEN attributed THEN gap_us END) AS BIGINT) AS min_gap_us,
        |  CAST(max(CASE WHEN attributed THEN gap_us END) AS BIGINT) AS max_gap_us
        |FROM p GROUP BY user_id""".stripMargin,

    // q44's rules + q47's top-bigram CTEs, aggregated per source; the
    // per-doc share lands on the 1e6 grid as a BIGINT before summation
    "q159_corpus_health" ->
      """WITH docs AS (SELECT doc_id, source, text FROM documents),
        |base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |    (CAST(len(string_split(text, ' ')) AS BIGINT) BETWEEN 50 AND 100000
        |     AND round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |           / len(string_split(text, ' ')), 6) BETWEEN 3 AND 10
        |     AND round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
        |            + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE)
        |              / 3)
        |           / len(string_split(text, ' ')), 6) < 0.1
        |     AND round(CAST(len(string_split(text, '. '))
        |            - len(list_distinct(string_split(text, '. '))) AS DOUBLE)
        |           / len(string_split(text, '. ')), 6) < 0.3) AS ok
        |  FROM docs),
        |bg AS (
        |  SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM docs) d,
        |       LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t
        |  WHERE len(d.toks) >= 2),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(max(c) AS DOUBLE) / sum(c) * 1e6 + 0.5) AS BIGINT) AS s6
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |j AS (SELECT b.source, b.nw, b.ok, sh.s6
        |      FROM base b LEFT JOIN sh USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
        |  floor(CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    * 1e6 + 0.5) / 1e6 AS quality_rate,
        |  floor(CAST(sum(s6) AS DOUBLE) / count(s6) + 0.5) / 1e6 AS mean_top_share
        |FROM j GROUP BY source""".stripMargin,

    // sawtooth formula -> exact s² frame energies -> delta bits
    "q157_audio_fingerprint" ->
      """WITH params AS (
        |  SELECT doc_id, 800 + (doc_id % 10) * 160 AS n, 3 + (doc_id % 8) AS f
        |  FROM documents),
        |samples AS (
        |  SELECT p.doc_id, p.n, t.i,
        |    ((t.i * p.f * 997) % 16000) * 4 - 32000 AS s
        |  FROM params p, LATERAL (SELECT unnest(range(0, p.n)) AS i) t),
        |en AS (
        |  SELECT doc_id, n, (i * 32) // n AS j,
        |    CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS e
        |  FROM samples GROUP BY doc_id, n, (i * 32) // n),
        |lagged AS (
        |  SELECT doc_id, n, j, e, lag(e) OVER (PARTITION BY doc_id ORDER BY j)
        |    AS pe
        |  FROM en)
        |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(coalesce(sum(CASE WHEN pe IS NOT NULL AND e > pe
        |    THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END), 0) AS BIGINT)
        |    AS fp
        |FROM lagged GROUP BY doc_id, n""".stripMargin,

    // same fingerprints, 8-bit bands, hamming <= 1 verify
    "q158_audio_neardup" ->
      """WITH params AS (
        |  SELECT doc_id, 800 + (doc_id % 10) * 160 AS n, 3 + (doc_id % 8) AS f
        |  FROM documents),
        |samples AS (
        |  SELECT p.doc_id, p.n, t.i,
        |    ((t.i * p.f * 997) % 16000) * 4 - 32000 AS s
        |  FROM params p, LATERAL (SELECT unnest(range(0, p.n)) AS i) t),
        |en AS (
        |  SELECT doc_id, n, (i * 32) // n AS j,
        |    CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS e
        |  FROM samples GROUP BY doc_id, n, (i * 32) // n),
        |lagged AS (
        |  SELECT doc_id, j, e, lag(e) OVER (PARTITION BY doc_id ORDER BY j) AS pe
        |  FROM en),
        |fps AS (
        |  SELECT doc_id AS media_id,
        |    CAST(coalesce(sum(CASE WHEN pe IS NOT NULL AND e > pe
        |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END), 0) AS BIGINT)
        |      AS fp
        |  FROM lagged GROUP BY doc_id),
        |banded AS (
        |  SELECT media_id, fp, t.i AS band,
        |    (fp >> CAST(t.i * 8 AS INT)) & 255 AS v
        |  FROM fps, LATERAL (SELECT unnest(range(0, 4)) AS i) t),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    a.fp AS fa, b.fp AS fb
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.v = b.v AND a.media_id < b.media_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 1""".stripMargin,

    "q154_ab_test" ->
      """WITH o AS (
        |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 'urgent' ELSE 'routine' END AS grp,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |m AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
        |    sum(CAST(c AS HUGEINT) * c) AS q
        |  FROM o GROUP BY grp),
        |a AS (SELECT n AS n1, s AS s1, q AS q1 FROM m WHERE grp = 'urgent'),
        |b AS (SELECT n AS n2, s AS s2v, q AS q2 FROM m WHERE grp = 'routine')
        |SELECT n1, n2,
        |  floor(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100 * 1e6 + 0.5) / 1e6
        |    AS mean_urgent,
        |  floor(CAST(s2v AS DOUBLE) / CAST(n2 AS DOUBLE) / 100 * 1e6 + 0.5) / 1e6
        |    AS mean_routine,
        |  floor((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s2v AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / sqrt(
        |      ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |          / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
        |        / CAST(n1 AS DOUBLE)
        |      + ((CAST(q2 AS DOUBLE) - CAST(s2v AS DOUBLE) * CAST(s2v AS DOUBLE)
        |          / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
        |        / CAST(n2 AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS t_stat
        |FROM a, b""".stripMargin,

    "q155_chi_square" ->
      """WITH cells AS (
        |  SELECT o_orderstatus AS r, o_orderpriority AS p,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |rm AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY r),
        |pm AS (SELECT p, CAST(sum(n) AS BIGINT) AS np FROM cells GROUP BY p),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
        |terms AS (
        |  SELECT CAST(floor(
        |      (CAST(n AS DOUBLE) - CAST(nr AS DOUBLE) * CAST(np AS DOUBLE)
        |        / CAST(nt AS DOUBLE))
        |      * (CAST(n AS DOUBLE) - CAST(nr AS DOUBLE) * CAST(np AS DOUBLE)
        |        / CAST(nt AS DOUBLE))
        |      / (CAST(nr AS DOUBLE) * CAST(np AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS t6
        |  FROM cells JOIN rm USING (r) JOIN pm USING (p), tot)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(t6) AS DOUBLE) / 1e6 AS chi2
        |FROM terms""".stripMargin,

    "q156_gini" ->
      """WITH byc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT c, CAST(row_number() OVER (ORDER BY c ASC, o_custkey ASC)
        |    AS BIGINT) AS i
        |  FROM byc),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sum_c,
        |    sum(CAST(i AS HUGEINT) * c) AS sum_ic
        |  FROM r)
        |SELECT n,
        |  floor((2 * CAST(sum_ic AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(sum_c AS DOUBLE))
        |      - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS gini
        |FROM g""".stripMargin,

    // the 9 expected shares are the SAME Scala-computed 6dp constants
    // the Spark side carries as a literal map (no cross-engine log10)
    "q151_benford" ->
      ("""WITH cents AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0),
        |d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM cents),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g),
        |b(digit, expected) AS (VALUES """.stripMargin +
        (1 to 9).map(dd => s"(${dd}, ${math.floor(math.log10(1.0 + 1.0 / dd) * 1e6 + 0.5) / 1e6})").mkString(", ") +
        """)
        |SELECT g.digit, g.n,
        |  floor(CAST(g.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS observed,
        |  CAST(b.expected AS DOUBLE) AS expected,
        |  floor(abs(floor(CAST(g.n AS DOUBLE) / CAST(t.n_total AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 - CAST(b.expected AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS abs_dev
        |FROM g JOIN b ON g.digit = b.digit, t""".stripMargin),

    "q152_activity_heatmap" ->
      """WITH cells AS (
        |  SELECT CAST(date_part('dow', ts) AS BIGINT) AS dow,
        |    CAST(date_part('hour', ts) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
        |SELECT dow, hr, n,
        |  floor(CAST(n AS DOUBLE) / CAST(t.n_total AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS share
        |FROM cells, t""".stripMargin,

    // same 3-hour late-arrival injection, same adjacent-inversion count
    "q153_order_integrity" ->
      """WITH delayed AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_id % 101 = 0 THEN ts + INTERVAL 3 HOUR ELSE ts END
        |      AS ts
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_id
        |  FROM delayed)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN prev_id IS NOT NULL AND event_id < prev_id
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions
        |FROM l GROUP BY user_id""".stripMargin,

    "q148_rfm" ->
      """WITH byc AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
        |      DATE '1998-12-31') AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY o_custkey),
        |s AS (
        |  SELECT *,
        |    CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS BIGINT)
        |      AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
        |      AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
        |      AS m_score
        |  FROM byc)
        |SELECT o_custkey, recency_days, frequency, cents,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM s""".stripMargin,

    // integer cross-multiply classification: cum/total <= 0.80 is
    // cum*100 <= total*80 — no ratio float ever materializes
    "q149_abc_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev),
        |c AS (
        |  SELECT l_partkey, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM rev),
        |cls AS (
        |  SELECT CASE WHEN cum_cents * 100 <= t.total_cents * 80 THEN 'A'
        |    WHEN cum_cents * 100 <= t.total_cents * 95 THEN 'B'
        |    ELSE 'C' END AS abc_class, cents
        |  FROM c, t)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(cents) AS BIGINT) AS class_cents
        |FROM cls GROUP BY abc_class""".stripMargin,

    "q150_skew_profile" ->
      """WITH p1 AS (
        |  SELECT 'l_orderkey' AS col_name, CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(n) AS BIGINT) AS max_freq
        |  FROM (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1)),
        |p2 AS (
        |  SELECT 'l_partkey', CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
        |    CAST(max(n) AS BIGINT)
        |  FROM (SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1)),
        |p3 AS (
        |  SELECT 'l_suppkey', CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
        |    CAST(max(n) AS BIGINT)
        |  FROM (SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1)),
        |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |SELECT col_name, n_rows, n_distinct, max_freq,
        |  floor(CAST(max_freq AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) / CAST(n_distinct AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS skew_ratio
        |FROM u""".stripMargin,

    // q86's pair CTEs + the q37 recursive-component replay, over name
    // strings directly (lexicographic min = the Spark side's min-nid)
    "q145_golden_record" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
        |blk AS (SELECT name, split_part(name, ' ', 2) AS b FROM names),
        |jp AS (
        |  SELECT a.name AS na, b.name AS nb
        |  FROM blk a JOIN blk b ON a.b = b.b AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 3),
        |edges AS (SELECT na AS src, nb AS dst FROM jp
        |          UNION ALL SELECT nb, na FROM jp),
        |reach(id, r) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id AS name, min(r) AS rep FROM reach GROUP BY id),
        |mem AS (
        |  SELECT n.name, coalesce(c.rep, n.name) AS rep
        |  FROM names n LEFT JOIN cl c ON n.name = c.name)
        |SELECT min(name) AS canonical_name, CAST(count(*) AS BIGINT) AS n_members,
        |  string_agg(name, '|' ORDER BY name) AS members
        |FROM mem GROUP BY rep HAVING count(*) >= 2""".stripMargin,

    "q146_monthly_growth" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT month, cents, lag(cents) OVER (ORDER BY month) AS prev_cents
        |  FROM monthly)
        |SELECT month,
        |  CAST(cents AS DOUBLE) / 100 AS rev,
        |  CAST(prev_cents AS DOUBLE) / 100 AS prev_rev,
        |  floor(CAST(cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS growth
        |FROM l""".stripMargin,

    "q147_adoption_curve" ->
      """WITH fs AS (
        |  SELECT user_id, event_type,
        |    min(CAST(date_trunc('day', ts) AS DATE)) AS day
        |  FROM events GROUP BY user_id, event_type),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fs GROUP BY event_type, day)
        |SELECT event_type, day, n_new,
        |  CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM daily""".stripMargin,

    // eval split's per-doc distinct 3-grams vs the corpus' distinct gram
    // set (the q96 gram-string construction at n=3)
    "q142_eval_overlap" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT d.doc_id, array_to_string(d.toks[t.i:t.i+2], ' ') AS g
        |    FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 1)) AS i) t
        |    WHERE len(d.toks) >= 3
        |    UNION ALL
        |    SELECT doc_id, array_to_string(toks, ' ') FROM docs
        |    WHERE len(toks) < 3)),
        |ev AS (SELECT doc_id AS eval_id, g FROM grams WHERE doc_id % 20 = 0),
        |corp AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 <> 0),
        |m AS (
        |  SELECT eval_id, CAST(count(*) AS BIGINT) AS n_matched
        |  FROM ev WHERE EXISTS (SELECT 1 FROM corp WHERE corp.g = ev.g)
        |  GROUP BY eval_id),
        |tot AS (
        |  SELECT eval_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM ev GROUP BY eval_id)
        |SELECT t.eval_id, t.n_grams,
        |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
        |  floor(CAST(coalesce(m.n_matched, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS overlap_fraction
        |FROM tot t LEFT JOIN m ON t.eval_id = m.eval_id""".stripMargin,

    // per-year checksums of both snapshots with the q120 polynomial;
    // only 1995 (the repriced year) may mismatch
    "q143_checksum_compare" ->
      """WITH base AS (
        |  SELECT year(o_orderdate) AS yr, o_orderkey, o_totalprice,
        |    CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS price_b
        |  FROM orders),
        |m AS (
        |  SELECT yr,
        |    (((17 * 1000003
        |      + coalesce(((o_orderkey % 2147483647) + 2147483647) % 2147483647,
        |                 2147483646)) % 2147483647) * 1000003
        |      + coalesce(((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |          % 2147483647) + 2147483647) % 2147483647, 2147483646))
        |      % 2147483647 AS mix_a,
        |    (((17 * 1000003
        |      + coalesce(((o_orderkey % 2147483647) + 2147483647) % 2147483647,
        |                 2147483646)) % 2147483647) * 1000003
        |      + coalesce(((CAST(floor(price_b * 100 + 0.5) AS BIGINT)
        |          % 2147483647) + 2147483647) % 2147483647, 2147483646))
        |      % 2147483647 AS mix_b
        |  FROM base)
        |SELECT yr, CAST(count(*) AS BIGINT) AS n_a,
        |  CAST(sum(mix_a) % 2147483647 AS BIGINT) AS checksum_a,
        |  CAST(count(*) AS BIGINT) AS n_b,
        |  CAST(sum(mix_b) % 2147483647 AS BIGINT) AS checksum_b,
        |  (sum(mix_a) % 2147483647 = sum(mix_b) % 2147483647) AS match
        |FROM m GROUP BY yr""".stripMargin,

    // rank-selected quantiles: rn = ceil(p*n) with rational p — pure
    // integer arithmetic, an actual data value, no interpolation
    "q144_latency_quantiles" ->
      """WITH gaps AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id)) // 1000
        |      AS gap_ms
        |  FROM events),
        |g AS (SELECT event_type, gap_ms FROM gaps WHERE gap_ms IS NOT NULL),
        |r AS (
        |  SELECT event_type, gap_ms,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_ms) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g),
        |q AS (
        |  SELECT 'p50' AS p_label, 1 AS num, 2 AS den
        |  UNION ALL SELECT 'p95', 19, 20
        |  UNION ALL SELECT 'p99', 99, 100)
        |SELECT event_type, p_label, CAST(n AS BIGINT) AS n, gap_ms AS value
        |FROM r, q WHERE rn = (num * n + den - 1) // den""".stripMargin,

    // pixel formula -> grayscale sums per 4x4 block -> cross-multiplied
    // bits -> 16-bit hash; exact integer math end to end
    "q140_image_ahash" ->
      """WITH params AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
        |    doc_id % 251 AS seed
        |  FROM documents),
        |px AS (
        |  SELECT p.doc_id, p.w, p.h,
        |    (xs.x * 4) // p.w AS bx, (ys.y * 4) // p.h AS by,
        |    (xs.x * 7 + ys.y * 13 + p.seed) % 256
        |      + (xs.x * 11 + ys.y * 3 + 2 * p.seed) % 256
        |      + (xs.x * 5 + ys.y * 17 + 3 * p.seed) % 256 AS gray
        |  FROM params p,
        |       LATERAL (SELECT unnest(range(0, p.w)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, p.h)) AS y) ys),
        |blocks AS (
        |  SELECT doc_id, w, h, by * 4 + bx AS bit,
        |    sum(gray) AS bs, count(*) AS bc
        |  FROM px GROUP BY doc_id, w, h, by, bx),
        |tot AS (SELECT doc_id, sum(gray) AS ts, count(*) AS tc FROM px GROUP BY doc_id)
        |SELECT b.doc_id AS media_id, CAST(b.w AS INT) AS width,
        |  CAST(b.h AS INT) AS height,
        |  CAST(sum(CASE WHEN b.bs * t.tc > t.ts * b.bc
        |    THEN (CAST(1 AS BIGINT) << CAST(b.bit AS INT)) ELSE 0 END) AS BIGINT)
        |    AS ahash
        |FROM blocks b JOIN tot t ON b.doc_id = t.doc_id
        |GROUP BY b.doc_id, b.w, b.h""".stripMargin,

    // same hashes, banded into 4-bit nibbles; candidates share a band
    // value, exact hamming <= 1 verifies
    "q141_image_neardup" ->
      """WITH params AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
        |    doc_id % 251 AS seed
        |  FROM documents),
        |px AS (
        |  SELECT p.doc_id, p.w, p.h,
        |    (xs.x * 4) // p.w AS bx, (ys.y * 4) // p.h AS by,
        |    (xs.x * 7 + ys.y * 13 + p.seed) % 256
        |      + (xs.x * 11 + ys.y * 3 + 2 * p.seed) % 256
        |      + (xs.x * 5 + ys.y * 17 + 3 * p.seed) % 256 AS gray
        |  FROM params p,
        |       LATERAL (SELECT unnest(range(0, p.w)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, p.h)) AS y) ys),
        |blocks AS (
        |  SELECT doc_id, by * 4 + bx AS bit, sum(gray) AS bs, count(*) AS bc
        |  FROM px GROUP BY doc_id, by, bx),
        |tot AS (SELECT doc_id, sum(gray) AS ts, count(*) AS tc FROM px GROUP BY doc_id),
        |hashes AS (
        |  SELECT b.doc_id AS media_id,
        |    CAST(sum(CASE WHEN b.bs * t.tc > t.ts * b.bc
        |      THEN (CAST(1 AS BIGINT) << CAST(b.bit AS INT)) ELSE 0 END) AS BIGINT)
        |      AS ahash
        |  FROM blocks b JOIN tot t ON b.doc_id = t.doc_id GROUP BY b.doc_id),
        |banded AS (
        |  SELECT media_id, ahash, t.i AS band,
        |    (ahash >> CAST(t.i * 4 AS INT)) & 15 AS v
        |  FROM hashes, LATERAL (SELECT unnest(range(0, 4)) AS i) t),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    a.ahash AS ha, b.ahash AS hb
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.v = b.v AND a.media_id < b.media_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 1""".stripMargin,

    "q136_basket_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_type AS item
        |  FROM events),
        |nb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_baskets
        |  FROM (SELECT DISTINCT user_id, day FROM items)),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY item),
        |pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT item_a, item_b, n_ab, ia.cnt AS n_a, ib.cnt AS n_b,
        |  floor(CAST(n_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS support,
        |  floor(CAST(n_ab AS DOUBLE) / CAST(ia.cnt AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS conf_ab,
        |  floor(CAST(n_ab AS DOUBLE) / CAST(ib.cnt AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS conf_ba,
        |  floor(CAST(n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
        |    / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS lift
        |FROM pairs
        |JOIN ic ia ON pairs.item_a = ia.item
        |JOIN ic ib ON pairs.item_b = ib.item, nb""".stripMargin,

    // keep iff first of its (user, type) or > 600 s after the previous
    // raw event of that key
    "q137_debounce" ->
      """WITH lagged AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts
        |FROM lagged
        |WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 600000000""".stripMargin,

    "q138_fk_audit" ->
      """WITH rel AS (
        |  SELECT 'lineitem_orders' AS relation, l_orderkey AS k FROM lineitem
        |  UNION ALL SELECT 'lineitem_part', l_partkey FROM lineitem
        |  UNION ALL SELECT 'orders_customer', o_custkey FROM orders
        |  UNION ALL SELECT 'events_customer', user_id FROM events),
        |par AS (
        |  SELECT 'lineitem_orders' AS relation, o_orderkey AS k FROM orders
        |  UNION ALL SELECT 'lineitem_part', p_partkey FROM part
        |  UNION ALL SELECT 'orders_customer', c_custkey FROM customer
        |  UNION ALL SELECT 'events_customer', c_custkey FROM customer),
        |ck AS (SELECT relation, k FROM rel WHERE k IS NOT NULL),
        |stats AS (
        |  SELECT c.relation,
        |    CAST(count(*) AS BIGINT) AS n_child,
        |    CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM par p
        |        WHERE p.relation = c.relation AND p.k = c.k)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |  FROM ck c GROUP BY c.relation),
        |pstats AS (
        |  SELECT p.relation,
        |    CAST(count(*) AS BIGINT) AS n_parents,
        |    CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ck c
        |        WHERE c.relation = p.relation AND c.k = p.k)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_referenced
        |  FROM par p GROUP BY p.relation)
        |SELECT s.relation, s.n_child, s.n_violations, ps.n_parents,
        |  ps.n_parents - ps.n_referenced AS n_unreferenced,
        |  floor(CAST(ps.n_referenced AS DOUBLE) / CAST(ps.n_parents AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS coverage
        |FROM stats s JOIN pstats ps ON s.relation = ps.relation""".stripMargin,

    // q129's triangle CTEs, exploded to corners and normalized by
    // C(deg, 2); degree-<2 nodes score 0
    "q139_clustering_coeff" ->
      """WITH f AS (
        |  SELECT CASE WHEN count(*) > 300000 THEN 100
        |    WHEN count(*) > 30000 THEN 10 ELSE 1 END AS f
        |  FROM lineitem),
        |e AS (
        |  SELECT l_partkey % 1000 AS src, l_suppkey % 1000 AS dst
        |  FROM lineitem, f
        |  WHERE (l_orderkey * 31 + l_partkey) % f.f = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e WHERE src <> dst),
        |deg AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und) GROUP BY x),
        |orient AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
        |      THEN v ELSE u END AS d
        |  FROM und JOIN deg da ON und.u = da.x JOIN deg db ON und.v = db.x),
        |wedges AS (
        |  SELECT a.s AS apex, a.d AS b, b2.d AS c
        |  FROM orient a JOIN orient b2 ON a.s = b2.s WHERE a.d < b2.d),
        |closed AS (
        |  SELECT * FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM und WHERE und.u = w.b AND und.v = w.c)),
        |tri AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS tri FROM (
        |    SELECT apex AS x FROM closed
        |    UNION ALL SELECT b FROM closed
        |    UNION ALL SELECT c FROM closed) GROUP BY x)
        |SELECT deg.x AS node, deg.deg,
        |  coalesce(tri.tri, 0) AS n_triangles,
        |  CASE WHEN deg.deg >= 2
        |    THEN floor(CAST(coalesce(tri.tri, 0) AS DOUBLE) * 2
        |      / (CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1))
        |      * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS cc
        |FROM deg LEFT JOIN tri ON deg.x = tri.x
        |ORDER BY cc DESC, node ASC LIMIT 20""".stripMargin,

    "q131_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT *, CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS row_total
        |  FROM c)
        |SELECT from_type, to_type, n, row_total,
        |  floor(CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS p
        |FROM t""".stripMargin,

    "q132_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin,

    // replication-free replay: the oracle joins raw interval sets — the
    // bucketing + designated-bucket dedup must produce EXACTLY this.
    "q133_overlap_join" ->
      """WITH iv AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e
        |  FROM events),
        |v AS (SELECT user_id, s AS vs, e AS ve FROM iv
        |      WHERE event_type = 'view' AND e > s),
        |c AS (SELECT user_id, s AS cs, e AS ce FROM iv
        |      WHERE event_type = 'click' AND e > s),
        |pairs AS (
        |  SELECT v.user_id, vs, ve, cs, ce
        |  FROM v JOIN c ON v.user_id = c.user_id
        |  WHERE vs < ce AND cs < ve)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(least(ve, ce) - greatest(vs, cs)) AS BIGINT) AS overlap_us
        |FROM pairs GROUP BY user_id""".stripMargin,

    // the same perturbation + the same two-column fingerprint polynomial
    "q134_snapshot_diff" ->
      """WITH fp AS (
        |  SELECT o_orderkey, o_orderdate, o_totalprice,
        |    ((((17 * 1000003
        |      + coalesce(((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |          % 2147483647) + 2147483647) % 2147483647, 2147483646))
        |      % 2147483647) * 1000003
        |      + coalesce(((date_diff('day', DATE '1970-01-01',
        |            CAST(o_orderdate AS DATE)) % 2147483647)
        |          + 2147483647) % 2147483647, 2147483646)) % 2147483647) AS f
        |  FROM orders),
        |old AS (SELECT o_orderkey AS k, f AS fa FROM fp),
        |perturbed AS (
        |  SELECT o_orderkey AS k,
        |    ((((17 * 1000003
        |      + coalesce(((CAST(floor((CASE WHEN o_orderkey % 89 = 0
        |            THEN o_totalprice + 1.0 ELSE o_totalprice END) * 100 + 0.5)
        |          AS BIGINT) % 2147483647) + 2147483647) % 2147483647,
        |          2147483646)) % 2147483647) * 1000003
        |      + coalesce(((date_diff('day', DATE '1970-01-01',
        |            CAST(o_orderdate AS DATE)) % 2147483647)
        |          + 2147483647) % 2147483647, 2147483646)) % 2147483647) AS fb
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS k, f AS fb FROM fp
        |  WHERE o_orderkey % 101 = 0),
        |j AS (
        |  SELECT old.fa, perturbed.fb
        |  FROM old FULL OUTER JOIN perturbed ON old.k = perturbed.k)
        |SELECT
        |  CAST(sum(CASE WHEN fa IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN fb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN fa IS NOT NULL AND fb IS NOT NULL AND fa <> fb
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN fa = fb THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j""".stripMargin,

    "q135_twap" ->
      """WITH seg AS (
        |  SELECT user_id AS key,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    epoch_us(ts) AS tsu,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS nxt
        |  FROM events),
        |d AS (
        |  SELECT key, cents, (nxt - tsu) // 1000 AS dur_ms
        |  FROM seg WHERE nxt IS NOT NULL),
        |g AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(sum(dur_ms) AS BIGINT) AS total_ms,
        |    sum(CAST(cents AS HUGEINT) * dur_ms) AS wsum
        |  FROM d GROUP BY key)
        |SELECT key, n_segments, total_ms,
        |  CASE WHEN total_ms > 0
        |    THEN floor(CAST(wsum AS DOUBLE) / CAST(total_ms AS DOUBLE) / 100
        |      * 1e6 + 0.5) / 1e6 END AS twap
        |FROM g""".stripMargin,

    // Every event belongs to exactly duration/slide = 4 windows whose
    // starts step back by one slide from floor(ts/slide)*slide — no
    // in-window filter needed (ts - start < (k+1)*slide <= duration).
    // make_timestamp() builds the µs window start Spark emits.
    "q111_sliding_window" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) AS tsu, event_type, value FROM events),
        |w AS (
        |  SELECT make_timestamp((tsu // 900000000) * 900000000
        |      - t.k * 900000000) AS window_start,
        |    event_type, value
        |  FROM ev, LATERAL (SELECT unnest(range(4)) AS k) t)
        |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "q112_priority_sample" ->
      """SELECT doc_id,
        |  n_chars / ((CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) + 1)
        |    / 4294967296.0) AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id ASC
        |LIMIT 100""".stripMargin,

    "q108_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())""".stripMargin,

    // Same literal bounds path: stats CTE mirrors the driver-collected
    // min/max; bucket and lower-bound arithmetic are the identical IEEE
    // expression trees.
    "q109_histogram" ->
      """WITH stats AS (
        |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
        |    (CAST(max(l_extendedprice) AS DOUBLE)
        |      - CAST(min(l_extendedprice) AS DOUBLE)) / 20 AS w
        |  FROM lineitem),
        |b AS (
        |  SELECT least(19, CAST(floor((l_extendedprice - s.mn) / s.w) AS BIGINT))
        |    AS bucket
        |  FROM lineitem, stats s)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  (SELECT mn FROM stats) + CAST(bucket AS DOUBLE) * (SELECT w FROM stats)
        |    AS lo
        |FROM b GROUP BY bucket""".stripMargin,

    "q110_corr_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
        |  l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.02""".stripMargin,

    "q03_lookup_join" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q04_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q06_distinct_extract" ->
      """SELECT DISTINCT o_orderpriority AS priority
        |FROM orders WHERE o_orderpriority IS NOT NULL""".stripMargin,

    "q07_dedup_keep_first" ->
      """SELECT c_custkey, c_name, c_nationkey FROM (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
        |  FROM customer) WHERE rn = 1""".stripMargin,

    "q103_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'""".stripMargin,

    "q08_union_universe" ->
      """SELECT DISTINCT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)""".stripMargin,

    "q09_except_placeholders" ->
      """SELECT id,
        |  'Cliente_' || CAST(id AS VARCHAR) AS nombre,
        |  'cliente_' || CAST(id AS VARCHAR) || '@placeholder.com' AS email
        |FROM (SELECT c_custkey AS id FROM customer
        |      EXCEPT
        |      SELECT c_custkey AS id FROM customer WHERE c_acctbal >= 0)""".stripMargin,

    "q10_dup_flag_rewrite" ->
      """SELECT c_custkey,
        |  CASE WHEN grp_n > 1
        |    THEN 'cliente_' || CAST(c_custkey AS VARCHAR) || '@placeholder.com'
        |    ELSE lower(c_name) END AS email,
        |  grp_n
        |FROM (SELECT c_custkey, c_name,
        |        CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS BIGINT) AS grp_n
        |      FROM customer)""".stripMargin,

    "q11_surrogate_keys" ->
      """SELECT r_name,
        |  CAST(row_number() OVER (ORDER BY r_name) + 100 AS BIGINT) AS id
        |FROM region""".stripMargin,

    "q12_clean_id_coerce" ->
      """SELECT c_custkey,
        |  TRY_CAST(regexp_replace('C' || CAST(c_custkey AS VARCHAR), '^C', '') AS BIGINT) AS cleaned_id,
        |  TRY_CAST(regexp_replace(c_name, '^Customer#', '') AS BIGINT) AS name_id,
        |  TRY_CAST(c_mktsegment AS BIGINT) AS garbage_id
        |FROM customer""".stripMargin,

    "q13_date_coerce" ->
      """SELECT o_orderkey,
        |  TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) AS parsed,
        |  TRY_CAST(o_orderpriority AS TIMESTAMP) AS bad
        |FROM orders
        |WHERE TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) IS NOT NULL""".stripMargin,

    "q14_check_range" ->
      """SELECT CASE WHEN l_linenumber BETWEEN 1 AND 5 THEN 'valid'
        |            ELSE 'out_of_range' END AS status,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q15_partition_year" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS anio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q16_topk" ->
      """SELECT CAST(rn AS BIGINT) AS rn, o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 10""".stripMargin,

    "q17_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders""".stripMargin,

    "q18_grouped_topn" ->
      """SELECT c_mktsegment, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rn <= 3""".stripMargin,

    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q20_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q21_asof_join" ->
      """SELECT event_id, user_id, o_orderkey, o_totalprice
        |FROM events ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |      row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                         ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1) o
        |ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate""".stripMargin,

    "q22_salted_join" ->
      """SELECT p_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type""".stripMargin,

    "q64_range_join" ->
      """WITH days AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS window_start FROM events),
        |d2 AS (
        |  SELECT window_start,
        |         epoch_ms(CAST(window_start AS TIMESTAMP)) // 1000 AS start_s,
        |         epoch_ms(CAST(window_start AS TIMESTAMP)) // 1000 + 604800 AS end_s
        |  FROM days),
        |ev AS (SELECT value, epoch_ms(ts) // 1000 AS ts_s FROM events)
        |SELECT window_start, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM ev JOIN d2 ON ts_s >= start_s AND ts_s < end_s
        |GROUP BY window_start""".stripMargin,

    "q65_hash_sample" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_sampled,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM (SELECT l_returnflag, l_quantity,
        |        substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
        |                   CAST(l_linenumber AS VARCHAR)), 1, 4) AS h
        |      FROM lineitem)
        |WHERE CASE WHEN l_returnflag = 'A' THEN h < '199a'
        |           WHEN l_returnflag = 'N' THEN h < '4000'
        |           ELSE h < '8000' END
        |GROUP BY l_returnflag""".stripMargin,

    "q102_unpivot" ->
      """SELECT l_returnflag, measure, round(sum(val), 2) AS total FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        |GROUP BY l_returnflag, measure""".stripMargin,

    "q66_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q25_scalar_subquery" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)""".stripMargin,

    "q26_string_funcs" ->
      """SELECT r_name, lower(r_name) AS lo, substring(r_name, 1, 3) AS pre3,
        |  CAST(length(r_name) AS BIGINT) AS len,
        |  regexp_replace(r_name, '[AEIOU]', '_', 'g') AS devowel,
        |  CAST(levenshtein(r_name, 'EUROPE') AS BIGINT) AS dist_europe,
        |  reverse(r_name) AS rev
        |FROM region""".stripMargin,

    "q28_datetime_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(day(o_orderdate)) AS INT) AS min_dom,
        |  CAST(max(month(o_orderdate)) AS INT) AS max_month,
        |  CAST(count(DISTINCT date_trunc('week', o_orderdate)) AS BIGINT) AS n_weeks
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q27_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q29_conditional_agg" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        |  round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS avg_f_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q23_profile" ->
      """SELECT col_name, CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_value, max_value
        |FROM (
        |  SELECT 'o_custkey' AS col_name,
        |    count(*) - count(o_custkey) AS n_nulls,
        |    count(DISTINCT o_custkey) AS n_distinct,
        |    CAST(min(o_custkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_custkey) AS VARCHAR) AS max_value FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice),
        |    CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM orders)""".stripMargin,

    // bounded-error grading: the Spark side computed exact AND approx in
    // one query and emitted within-tolerance booleans; the oracle pins
    // every group to TRUE — an approx regression now breaks the hash
    "q24_approx_agg" ->
      """SELECT l_returnflag, TRUE AS ndv_ok, TRUE AS p50_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q99_sql_engine" -> SqlQ3,

    "q68_heavy_hitters" ->
      """WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM ev GROUP BY user_id
        |HAVING count(*) >= ceil(0.008 * (SELECT count(*) FROM ev))""".stripMargin,

    // the Spark side routed nation through a Derby JDBC double-append;
    // identical results prove the append was idempotent and the type
    // roundtrip lossless
    "q76_jdbc_roundtrip" ->
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q89_zorder" ->
      s"""WITH p AS (SELECT p_partkey AS x, CAST(p_size AS BIGINT) AS y FROM part)
         |SELECT x AS p_partkey, ${ZOrderSql("x", "y")} AS z FROM p""".stripMargin,

    // the Spark side wrote a z-clustered copy + manifest and read it back
    // through file skipping; identical aggregates prove no file was
    // wrongly pruned or double-read
    "q90_zorder_skipping" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 299
        |GROUP BY l_returnflag""".stripMargin,

    "q87_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM documents,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // k1 = 1.2, b = 0.75: tf*(k1+1) = tf*2.2; k1*(1-b) = 0.3 written as
    // 1.2*(0.25 + 0.75*dl/avgdl)
    "q88_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM documents,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen),
        |q AS (SELECT unnest(['spark', 'vector', 'stream']) AS term),
        |hits AS (
        |  SELECT tf.doc_id,
        |    sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
        |        tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))) AS s
        |  FROM tf JOIN df USING (term) JOIN dlen USING (doc_id) CROSS JOIN stats
        |  JOIN q ON tf.term = q.term
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT doc_id, round(s, 4) AS score,
        |    row_number() OVER (ORDER BY round(s, 4) DESC, doc_id ASC) AS rank
        |  FROM hits)
        |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10""".stripMargin,

    "q86_fuzzy_match" ->
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        |blk AS (SELECT name, split_part(name, ' ', 2) AS b FROM names)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM blk a JOIN blk b ON a.b = b.b AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin,

    // seq (= o_orderkey) is unique per key, so the Spark max(struct)
    // collapse and this row_number window pick the same row.
    "q84_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS seq,
        |         CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
        |         o_totalprice AS price, o_orderpriority AS priority
        |  FROM orders),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY custkey ORDER BY seq DESC) AS rn
        |  FROM ch)
        |SELECT custkey, seq, round(price, 2) AS price, priority
        |FROM latest WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q85_scd2_history" ->
      """WITH ev AS (
        |  SELECT o_custkey AS custkey, o_orderdate AS ts,
        |         max_by(o_orderpriority, o_orderkey) AS priority
        |  FROM orders GROUP BY 1, 2),
        |runs AS (
        |  SELECT *, lag(priority) OVER (PARTITION BY custkey ORDER BY ts) AS prev
        |  FROM ev),
        |hist AS (
        |  SELECT custkey, priority, ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to
        |  FROM runs WHERE prev IS NULL OR prev <> priority)
        |SELECT custkey, priority, valid_from, valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM hist""".stripMargin,

    "q67_sql_extensions" ->
      ("WITH " + JaccardCtes(0.0) +
        "\nSELECT doc_id, CAST(n AS BIGINT) AS n_shingles FROM counts"),

    // Exact n-gram Jaccard IS ANSI-expressible: shingle via unnest over
    // token windows, pair-join on shared shingles, set algebra. The Spark
    // side's df-pruning (df in [2, maxPostings]) does not change results
    // at sf<=0.1 (max df < maxPostings; df=1 shingles can't pair).
    "q33_ngram_jaccard" ->
      ("WITH " + JaccardCtes(0.35) + "\nSELECT id_a, id_b, jaccard FROM jpairs"),

    // Prefix filtering is LOSSLESS at the threshold (any pair it skips
    // provably has jaccard < t), so the exact all-pairs SQL is the
    // oracle verbatim — a missed prefix collision, a wrong prefix
    // length, or a broken length filter each drop a pair and fail the
    // hash.
    "q217_setsim_prefix_join" ->
      ("WITH " + JaccardCtes(0.5) + "\nSELECT id_a, id_b, jaccard FROM jpairs"),

    // One regexp scan per phrase — the composed form the AC automaton
    // replaces; counts agree because no blocklist phrase has a
    // self-border (see the query comment).
    "q218_blocklist_filter" -> {
      val lst = BlocklistPhrases.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CAST(list_sum(list_transform($lst,
         |    p -> len(regexp_extract_all(lower(text), p)))) AS BIGINT)
         |    AS n_hits,
         |  coalesce(array_to_string(list_filter($lst,
         |    p -> contains(lower(text), p)), ','), '') AS phrases,
         |  list_sum(list_transform($lst,
         |    p -> len(regexp_extract_all(lower(text), p)))) = 0 AS kept
         |FROM documents""".stripMargin
    },

    // time travel to v1 sees the FULL pre-delete state — the oracle is
    // the plain original aggregation, no priority exclusion
    "q219_time_travel" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS anio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY 1""".stripMargin,

    // identical integer-grid math: snap to 1e6, order-free dim sums,
    // one fixed IEEE sequence for mean/std, z re-snapped to the grid
    "q220_embed_standardize" ->
      """WITH xi AS (
        |  SELECT vec_id, t.i AS pos,
        |    CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS x
        |  FROM embeddings e,
        |    LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) t),
        |st AS (
        |  SELECT pos, CAST(sum(x) AS DOUBLE) / count(*) AS m,
        |    sqrt(CAST(sum(x * x) AS DOUBLE) / count(*)
        |      - (CAST(sum(x) AS DOUBLE) / count(*))
        |        * (CAST(sum(x) AS DOUBLE) / count(*))) AS sd
        |  FROM xi GROUP BY pos),
        |zz AS (
        |  SELECT vec_id,
        |    CASE WHEN sd > 0
        |      THEN CAST(floor((x - m) / sd * 1000000 + 0.5) AS BIGINT)
        |      ELSE 0 END AS z
        |  FROM xi JOIN st USING (pos))
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
        |  CAST(sum(z) AS BIGINT) AS z_sum,
        |  CAST(sum(z * z) AS BIGINT) AS z_norm2
        |FROM zz GROUP BY vec_id""".stripMargin,

    // three synchronous LPA rounds unrolled over the exact-Jaccard
    // edges; argmax = (count desc, label asc) row_number — the same
    // deterministic tie-break the engine's struct-max computes
    "q221_label_propagation" ->
      ("WITH " + JaccardCtes(0.35) + """,
        |sym AS (
        |  SELECT id_a AS s, id_b AS d FROM jpairs
        |  UNION ALL SELECT id_b, id_a FROM jpairs),
        |lab0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
        |""".stripMargin +
        (1 to 3).map(LpaIterCtes).mkString(",\n") + """
        |SELECT l.id AS node, l.lab AS community, s.csize
        |FROM lab3 l JOIN (
        |  SELECT lab, CAST(count(*) AS BIGINT) AS csize
        |  FROM lab3 GROUP BY 1) s USING (lab)""".stripMargin),

    // frame means from the q206 block formula, then the same lag/window
    // cut rule — boundary iff the luminance jump exceeds 100
    "q222_shot_boundaries" ->
      """WITH fr AS (
        |  SELECT doc_id AS media_id, CAST(k.i AS BIGINT) AS frame_idx
        |  FROM documents,
        |       LATERAL (SELECT unnest(range(0, 4 + doc_id % 5)) AS i) k),
        |bl AS (
        |  SELECT media_id, frame_idx,
        |    (media_id * 31 + frame_idx * 17 + bx.x * 7 + by.y * 13) % 256 AS v
        |  FROM fr,
        |       LATERAL (SELECT unnest(range(2)) AS x) bx,
        |       LATERAL (SELECT unnest(range(2)) AS y) by),
        |mg AS (
        |  SELECT media_id, frame_idx, CAST(sum(v) AS DOUBLE) / 4 AS mean_gray
        |  FROM bl GROUP BY 1, 2),
        |df AS (
        |  SELECT media_id, frame_idx,
        |    abs(mean_gray - lag(mean_gray) OVER w) AS diff
        |  FROM mg WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx))
        |SELECT media_id, frame_idx, diff,
        |  coalesce(diff > 100.0, false) AS is_boundary,
        |  CAST(sum(CASE WHEN coalesce(diff > 100.0, false) THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY media_id ORDER BY frame_idx) AS BIGINT)
        |    AS shot_id
        |FROM df""".stripMargin,

    // exact integer decile boundaries (ceil-div order statistics),
    // boundaries-strictly-below buckets, Laplace shares, 6dp terms
    "q244_psi_drift" ->
      """WITH d AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |cum AS (
        |  SELECT v, count(*) AS c,
        |    sum(count(*)) OVER (ORDER BY v) AS cum
        |  FROM d GROUP BY v),
        |bnd AS (
        |  SELECT p.p, min(c2.v) AS bv
        |  FROM (SELECT unnest(range(1, 10)) AS p) p, cum c2, tot
        |  WHERE c2.cum >= (p.p * tot.n + 9) // 10 GROUP BY 1),
        |bk AS (
        |  SELECT d.grp, d.v,
        |    (SELECT count(*) FROM bnd WHERE bnd.bv < d.v) AS b
        |  FROM d),
        |bysrc AS (SELECT grp, b, count(*) AS cs FROM bk GROUP BY 1, 2),
        |srcs AS (SELECT grp, count(*) AS ns FROM d GROUP BY 1),
        |bycorp AS (SELECT b, sum(cs) AS cc FROM bysrc GROUP BY 1),
        |grid AS (
        |  SELECT s.grp, s.ns, c.b, c.cc, coalesce(y.cs, 0) AS cs
        |  FROM srcs s CROSS JOIN bycorp c
        |  LEFT JOIN bysrc y ON y.grp = s.grp AND y.b = c.b),
        |t AS (
        |  SELECT grp, ns,
        |    CAST(floor(((cs + 1.0) / (ns + 10.0) - (cc + 1.0) / (n + 10.0))
        |      * ln(((cs + 1.0) / (ns + 10.0)) / ((cc + 1.0) / (n + 10.0)))
        |      * 1000000 + 0.5) AS BIGINT) AS t6
        |  FROM grid, tot)
        |SELECT grp, CAST(max(ns) AS BIGINT) AS n_rows,
        |  CAST(sum(t6) AS DOUBLE) / 1000000 AS psi
        |FROM t GROUP BY grp""".stripMargin,

    // the q77 two-iteration k-means replay at nlist=8, final assignment
    // by (cosine desc, cid asc), then the tf * ln(1 + K/cdf) labeling
    "q243_topic_map" ->
      ("""WITH cents0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
         |      AS cid,
         |    CAST(embedding AS DOUBLE[]) AS cv
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 8)),
         |""".stripMargin +
        KmeansIterCtes(0) + ",\n" + KmeansIterCtes(1) + ",\n" +
        """fasn AS (
          |  SELECT e.vec_id, c2.cid,
          |    (SELECT sum(CAST(x AS DOUBLE) * y)
          |     FROM (SELECT unnest(e.embedding) AS x,
          |           unnest(c2.cv) AS y)) AS dot,
          |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
          |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
          |    (SELECT sum(y * y) FROM (SELECT unnest(c2.cv) AS y)) AS nc
          |  FROM embeddings e, cents2 c2),
          |asg AS (
          |  SELECT vec_id AS doc_id, CAST(cid AS BIGINT) AS cluster FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY
          |        CASE WHEN sqrt(ne) * sqrt(nc) > 0
          |             THEN dot / (sqrt(ne) * sqrt(nc)) ELSE 0.0 END DESC,
          |        cid ASC) AS rn
          |    FROM fasn) WHERE rn = 1),
          |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
          |          FROM asg GROUP BY 1),
          |toks AS (
          |  SELECT a.cluster, unnest(string_split(lower(d.text), ' ')) AS term
          |  FROM documents d JOIN asg a USING (doc_id)),
          |tf AS (SELECT cluster, term, count(*) AS tf
          |       FROM toks GROUP BY 1, 2),
          |cdf AS (SELECT term, count(*) AS cdf FROM tf GROUP BY 1),
          |sc AS (
          |  SELECT tf.cluster, tf.term,
          |    CAST(floor(tf.tf * ln(1.0 + 8.0 / cdf.cdf) * 1000000 + 0.5)
          |      AS BIGINT) AS score6
          |  FROM tf JOIN cdf USING (term)),
          |top3 AS (
          |  SELECT cluster, term, score6, CAST(rn AS BIGINT) AS rank FROM (
          |    SELECT cluster, term, score6,
          |      row_number() OVER (PARTITION BY cluster
          |        ORDER BY score6 DESC, term ASC) AS rn
          |    FROM sc) WHERE rn <= 3)
          |SELECT t.cluster, s.n_members, t.rank, t.term,
          |  CAST(t.score6 AS DOUBLE) / 1000000 AS score
          |FROM top3 t JOIN sizes s USING (cluster)""".stripMargin),

    // exact pairs + gram dfs; the witness is the (df, gram) argmin
    "q242_pair_explain" ->
      ("WITH " + JaccardCtes(0.35) + """,
        |gdf AS (SELECT g, count(*) AS gdf FROM grams GROUP BY 1),
        |shared AS (
        |  SELECT p.id_a, p.id_b, ga.g, d.gdf
        |  FROM jpairs p
        |  JOIN grams ga ON ga.doc_id = p.id_a
        |  JOIN grams gb ON gb.doc_id = p.id_b AND gb.g = ga.g
        |  JOIN gdf d ON d.g = ga.g),
        |agg AS (
        |  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM shared GROUP BY 1, 2)
        |SELECT a.id_a, a.id_b, a.inter,
        |  na.n - a.inter AS only_a, nb.n - a.inter AS only_b,
        |  (SELECT s.g FROM shared s
        |   WHERE s.id_a = a.id_a AND s.id_b = a.id_b
        |   ORDER BY s.gdf, s.g LIMIT 1) AS rare_shared
        |FROM agg a
        |JOIN counts na ON na.doc_id = a.id_a
        |JOIN counts nb ON nb.doc_id = a.id_b""".stripMargin),

    // identical integer gap stream (µs diffs floor-divided to ms),
    // HUGEINT squares, the same IEEE sequence to the cv grid
    "q241_bot_regularity" ->
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)) // 1000 AS gm
        |  FROM events),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    sum(CAST(gm AS HUGEINT)) AS s,
        |    sum(CAST(gm AS HUGEINT) * gm) AS s2
        |  FROM g WHERE gm IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  CAST(floor(CAST(s AS DOUBLE) / n_gaps + 0.5) AS BIGINT)
        |    AS mean_gap_ms,
        |  CASE WHEN s > 0 THEN
        |    floor(sqrt(CAST(s2 AS DOUBLE) / n_gaps
        |      - (CAST(s AS DOUBLE) / n_gaps) * (CAST(s AS DOUBLE) / n_gaps))
        |      / (CAST(s AS DOUBLE) / n_gaps) * 1000000 + 0.5) / 1000000
        |    ELSE NULL END AS cv,
        |  (s > 0 AND
        |   floor(sqrt(CAST(s2 AS DOUBLE) / n_gaps
        |     - (CAST(s AS DOUBLE) / n_gaps) * (CAST(s AS DOUBLE) / n_gaps))
        |     / (CAST(s AS DOUBLE) / n_gaps) * 1000000 + 0.5) / 1000000 < 0.3
        |   AND n_gaps >= 5) AS regular
        |FROM a""".stripMargin,

    // the same two-sided ignore-nulls windows and the same integer
    // interpolation formula over the gapped series
    "q240_interpolate" ->
      """WITH daily AS (
        |  SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT * FROM daily
        |      WHERE CAST(day - DATE '1970-01-01' AS BIGINT) % 5 <> 0),
        |grid AS (
        |  SELECT series,
        |    CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM (SELECT series, min(day) AS mn, max(day) AS mx
        |        FROM g GROUP BY 1)),
        |j AS (
        |  SELECT gr.series, gr.day, g.v FROM grid gr
        |  LEFT JOIN g ON g.series = gr.series AND g.day = gr.day),
        |w AS (
        |  SELECT series, day, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM j
        |  WINDOW wp AS (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT series, day,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |    ELSE floor(CAST(pv * CAST(nd - day AS BIGINT)
        |        + nv * CAST(day - pd AS BIGINT) AS DOUBLE)
        |      / CAST(nd - pd AS BIGINT) * 1000000 + 0.5) / 1000000 END
        |    AS value,
        |  v IS NOT NULL AS is_observed
        |FROM w""".stripMargin,

    // same chunk CTEs as q225 over the full corpus; history digests
    // semi-join the batch's chunks
    "q239_cdc_incremental" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    doc_id % 10 = 0 AS isb
        |  FROM documents),
        |pos AS (
        |  SELECT d.doc_id, t.i - 1 AS p, d.tk[t.i] AS tok
        |  FROM docs d,
        |    LATERAL (SELECT unnest(range(1, len(d.tk) + 1)) AS i) t),
        |bnd AS (
        |  SELECT d.doc_id, t.i - 1 AS b
        |  FROM docs d, LATERAL (SELECT unnest(range(3, len(d.tk))) AS i) t
        |  WHERE CAST(concat('0x', substr(md5(
        |      d.tk[t.i - 2] || ' ' || d.tk[t.i - 1] || ' ' || d.tk[t.i]),
        |      1, 8)) AS BIGINT) % 8 = 0),
        |tokchunk AS (
        |  SELECT p.doc_id, p.p, p.tok, count(b.b) AS c
        |  FROM pos p LEFT JOIN bnd b ON b.doc_id = p.doc_id AND b.b < p.p
        |  GROUP BY 1, 2, 3),
        |chunks AS (
        |  SELECT doc_id, c AS chunk_idx,
        |    md5(string_agg(tok, ' ' ORDER BY p)) AS h, count(*) AS ctok
        |  FROM tokchunk GROUP BY 1, 2),
        |hist AS (
        |  SELECT DISTINCT c.h FROM chunks c
        |  JOIN docs d USING (doc_id) WHERE NOT d.isb),
        |bat AS (
        |  SELECT c.* FROM chunks c JOIN docs d USING (doc_id) WHERE d.isb)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(b.ctok) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN h.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_known_chunks,
        |  CAST(sum(CASE WHEN h.h IS NOT NULL THEN b.ctok ELSE 0 END)
        |    AS BIGINT) AS n_known_tokens
        |FROM bat b LEFT JOIN hist h ON h.h = b.h
        |GROUP BY 1""".stripMargin,

    // q41's rule replay grouped into the confusion matrix
    "q238_langid_confusion" ->
      s"""WITH $HeurGuessCte,
         |m AS (SELECT lang_label, lang_guess, CAST(count(*) AS BIGINT) AS n
         |      FROM hg GROUP BY 1, 2)
         |SELECT lang_label, lang_guess, n,
         |  round(CAST(n AS DOUBLE) /
         |    sum(n) OVER (PARTITION BY lang_label), 6) AS row_share
         |FROM m""".stripMargin,

    // CDFs on the shared distinct-value grid, exact cross-multiplied
    // diffs, one division at the end
    "q237_ks_drift" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |cv AS (SELECT v, count(*) AS cc FROM d GROUP BY 1),
        |sv AS (SELECT source, v, count(*) AS cs FROM d GROUP BY 1, 2),
        |srcs AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM d),
        |grid AS (
        |  SELECT s.source, s.ns, c.v, c.cc, coalesce(sv.cs, 0) AS cs
        |  FROM srcs s CROSS JOIN cv c
        |  LEFT JOIN sv ON sv.source = s.source AND sv.v = c.v),
        |cum AS (
        |  SELECT source, ns, v,
        |    sum(cs) OVER (PARTITION BY source ORDER BY v) AS cums,
        |    sum(cc) OVER (PARTITION BY source ORDER BY v) AS cumc
        |  FROM grid)
        |SELECT c.source, CAST(c.ns AS BIGINT) AS n_docs,
        |  round(CAST(max(abs(c.cums * t.nc - c.cumc * c.ns)) AS DOUBLE)
        |    / (c.ns * t.nc), 6) AS ks
        |FROM cum c, tot t
        |GROUP BY c.source, c.ns, t.nc""".stripMargin,

    // exact pairs -> unordered source pairs
    "q236_cross_source_dups" ->
      ("WITH " + JaccardCtes(0.35) + """
        |SELECT least(da.source, db.source) AS src_lo,
        |  greatest(da.source, db.source) AS src_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM jpairs p
        |JOIN documents da ON da.doc_id = p.id_a
        |JOIN documents db ON db.doc_id = p.id_b
        |GROUP BY 1, 2""".stripMargin),

    // truncated lines quarantine whole (null fields), good lines parse
    // back to their exact source values
    "q235_fixed_width" ->
      """SELECT CASE WHEN doc_id % 97 = 0 THEN '__corrupt' ELSE lang END
        |    AS lang,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END)
        |    AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,

    // same gram CTEs; per-gram weight ln(N/df) on the 6dp grid, doc
    // totals and shared sums as integers, ratio at the end
    "q234_weighted_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT d.doc_id,
        |      d.toks[t.i] || ' ' || d.toks[t.i + 1] || ' ' || d.toks[t.i + 2]
        |        AS g
        |    FROM docs d,
        |      LATERAL (SELECT unnest(range(1, len(d.toks) - 1)) AS i) t
        |    WHERE len(d.toks) >= 3
        |    UNION ALL
        |    SELECT doc_id, array_to_string(toks, ' ') AS g FROM docs
        |    WHERE len(toks) < 3)),
        |wts AS (
        |  SELECT g, CAST(floor(ln(CAST((SELECT count(*) FROM documents)
        |      AS DOUBLE) / count(*)) * 1000000 + 0.5) AS BIGINT) AS w
        |  FROM grams GROUP BY g
        |  HAVING count(*) <= 1000),
        |wg AS (SELECT grams.doc_id, grams.g, wts.w
        |       FROM grams JOIN wts USING (g)),
        |tot AS (SELECT doc_id, sum(w) AS sw FROM wg GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w) AS si
        |  FROM wg a JOIN wg b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, wjaccard FROM (
        |  SELECT i.id_a, i.id_b,
        |    round(CAST(i.si AS DOUBLE) / (ta.sw + tb.sw - i.si), 6)
        |      AS wjaccard
        |  FROM inter i
        |  JOIN tot ta ON ta.doc_id = i.id_a
        |  JOIN tot tb ON tb.doc_id = i.id_b)
        |WHERE wjaccard >= 0.4""".stripMargin,

    // exact all-pairs containment over the same gram CTEs; min-size
    // normalization instead of union-size
    "q233_containment_join" ->
      ("WITH " + JaccardCtes(0.0) + """
        |SELECT p.id_a, p.id_b,
        |  round(CAST(p.inter AS DOUBLE) / least(na.n, nb.n), 6)
        |    AS containment
        |FROM pairs p
        |JOIN counts na ON p.id_a = na.doc_id
        |JOIN counts nb ON p.id_b = nb.doc_id
        |WHERE round(CAST(p.inter AS DOUBLE) / least(na.n, nb.n), 6) >= 0.8
        |""".stripMargin),

    // H = ln(n) - (1/n) sum c*ln(c), per-word terms floored to the 6dp
    // grid before the order-free integer sum
    "q232_token_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |cw AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS v,
        |    sum(CAST(floor(c * ln(c) * 1000000 + 0.5) AS BIGINT)) AS s
        |  FROM cw GROUP BY 1)
        |SELECT doc_id, n AS n_tokens, v AS n_vocab,
        |  floor((ln(n) - CAST(s AS DOUBLE) / 1000000 / n)
        |    * 1000000 + 0.5) / 1000000 AS entropy
        |FROM agg""".stripMargin,

    // the projection matrix inlined as a VALUES relation (the exact
    // splitmix64 constants), grid components integer-summed per plane,
    // then both cosines over the bounded pair set
    "q231_jl_distortion" -> {
      val mat = operators.Similarity.planeRows(64, 16).zipWithIndex
        .flatMap { case (r, p) =>
          r.zipWithIndex.map { case (v, d) => s"($p, ${d + 1}, $v)" }
        }.mkString(", ")
      s"""WITH e40 AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 40),
         |mat(p, d, v) AS (SELECT * FROM (VALUES $mat)),
         |pr AS (
         |  SELECT e.vec_id, m.p,
         |    sum(CAST(floor(CAST(e.embedding[m.d] AS DOUBLE) * m.v
         |      * 1000000 + 0.5) AS BIGINT)) AS y
         |  FROM e40 e JOIN mat m ON true
         |  GROUP BY 1, 2),
         |n2 AS (SELECT vec_id, sum(y * y) AS n2 FROM pr GROUP BY 1),
         |d16 AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.y * b.y) AS dot
         |  FROM pr a JOIN pr b ON a.p = b.p AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2),
         |c16 AS (
         |  SELECT d.id_a, d.id_b,
         |    CASE WHEN na.n2 > 0 AND nb.n2 > 0
         |      THEN floor(CAST(d.dot AS DOUBLE)
         |        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |        * 1000000 + 0.5) / 1000000
         |      ELSE 0.0 END AS cos16
         |  FROM d16 d
         |  JOIN n2 na ON na.vec_id = d.id_a
         |  JOIN n2 nb ON nb.vec_id = d.id_b),
         |c64 AS (
         |  SELECT z.id_a, z.id_b,
         |    round(CASE WHEN sqrt(z.na) * sqrt(z.nb) > 0
         |      THEN z.dp / (sqrt(z.na) * sqrt(z.nb)) ELSE 0.0 END, 6)
         |      AS cos64
         |  FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      (SELECT sum(CAST(x * y AS DOUBLE))
         |       FROM (SELECT unnest(a.embedding) AS x,
         |             unnest(b.embedding) AS y)) AS dp,
         |      (SELECT sum(CAST(x * x AS DOUBLE))
         |       FROM (SELECT unnest(a.embedding) AS x)) AS na,
         |      (SELECT sum(CAST(y * y AS DOUBLE))
         |       FROM (SELECT unnest(b.embedding) AS y)) AS nb
         |    FROM e40 a JOIN e40 b ON a.vec_id < b.vec_id) z)
         |SELECT c64.id_a, c64.id_b, c64.cos64, c16.cos16,
         |  round(abs(c64.cos64 - c16.cos16), 6) AS err
         |FROM c64 JOIN c16 ON c64.id_a = c16.id_a
         |  AND c64.id_b = c16.id_b""".stripMargin
    },

    // pairwise slopes on the 6dp grid, lower medians with day-index
    // ties, intercept from the chosen slope — replayed step for step
    "q230_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS xi,
        |    CAST(count(*) AS BIGINT) AS yi
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |pairs AS (
        |  SELECT a.series, a.xi, b.xi AS xj,
        |    CAST(floor(CAST(b.yi - a.yi AS DOUBLE) / (b.xi - a.xi)
        |      * 1000000 + 0.5) AS BIGINT) AS s6
        |  FROM daily a JOIN daily b
        |    ON a.series = b.series AND b.xi > a.xi),
        |sm AS (
        |  SELECT series,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN s6 END) AS slope6
        |  FROM (SELECT series, s6,
        |      row_number() OVER (PARTITION BY series
        |        ORDER BY s6, xi, xj) AS rk,
        |      count(*) OVER (PARTITION BY series) AS n
        |    FROM pairs)
        |  GROUP BY series),
        |res AS (
        |  SELECT d.series, d.xi,
        |    CAST(floor((CAST(d.yi AS DOUBLE)
        |      - CAST(s.slope6 AS DOUBLE) / 1000000 * d.xi)
        |      * 1000000 + 0.5) AS BIGINT) AS b6
        |  FROM daily d JOIN sm s USING (series)),
        |im AS (
        |  SELECT series,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN b6 END) AS b6m
        |  FROM (SELECT series, b6,
        |      row_number() OVER (PARTITION BY series ORDER BY b6, xi) AS rk,
        |      count(*) OVER (PARTITION BY series) AS n
        |    FROM res)
        |  GROUP BY series)
        |SELECT d.series, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(s.slope6 AS DOUBLE) / 1000000 AS slope,
        |  CAST(i.b6m AS DOUBLE) / 1000000 AS intercept
        |FROM daily d
        |JOIN sm s ON s.series = d.series
        |JOIN im i ON i.series = d.series
        |GROUP BY d.series, s.slope6, i.b6m""".stripMargin,

    // four peels unrolled over the exact-Jaccard edges; a converged
    // engine-side early exit equals the fixed-round replay (peeling is
    // monotone — post-convergence rounds are identity)
    "q229_kcore" ->
      ("WITH " + JaccardCtes(0.35) + """,
        |sym AS (SELECT id_a AS src, id_b AS dst FROM jpairs
        |        UNION ALL SELECT id_b, id_a FROM jpairs),
        |alive0 AS (SELECT DISTINCT src AS id FROM sym),
        |""".stripMargin +
        (1 to 4).map(KCoreRoundCtes(_, 2)).mkString(",\n") + """,
        |fin AS (
        |  SELECT e.src AS id, CAST(count(*) AS BIGINT) AS d
        |  FROM sym e
        |  JOIN alive4 a ON a.id = e.src
        |  JOIN alive4 b ON b.id = e.dst
        |  GROUP BY 1)
        |SELECT d.doc_id AS node, (f.id IS NOT NULL) AS in_core,
        |  coalesce(f.d, 0) AS core_deg
        |FROM documents d LEFT JOIN fin f ON f.id = d.doc_id""".stripMargin),

    // the water level re-derived in SQL: prefix sums over counts sorted
    // (n asc, lang asc), the unique j with floor((B-P_j)/(S-j)) in
    // [n_j, n_{j+1}), budget-covers-all handled; then the house
    // (md5(text), id) per-stratum rank against min(n, C)
    "q228_water_fill" ->
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS s,
        |               CAST(sum(n) AS BIGINT) AS total FROM cnt),
        |ord AS (SELECT lang, n,
        |    row_number() OVER (ORDER BY n ASC, lang ASC) AS rk,
        |    sum(n) OVER (ORDER BY n ASC, lang ASC
        |                 ROWS UNBOUNDED PRECEDING) AS pre
        |  FROM cnt),
        |js AS (SELECT unnest(range(0, s + 1)) AS j FROM tot),
        |jr AS (SELECT j,
        |    coalesce((SELECT pre FROM ord WHERE rk = j), 0) AS pj,
        |    coalesce((SELECT n FROM ord WHERE rk = j), 0) AS nj,
        |    (SELECT n FROM ord WHERE rk = j + 1) AS nj1
        |  FROM js),
        |lvl AS (SELECT min(c) AS c FROM (
        |    SELECT jr.j, CASE WHEN jr.j = tot.s THEN (SELECT max(n) FROM cnt)
        |        ELSE (420 - jr.pj) // (tot.s - jr.j) END AS c,
        |      jr.nj, jr.nj1, tot.s, tot.total
        |    FROM jr, tot) z
        |  WHERE (z.j = z.s AND 420 >= z.total)
        |     OR (z.j < z.s AND z.c >= z.nj
        |         AND (z.nj1 IS NULL OR z.c < z.nj1))),
        |rnk AS (SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(text), doc_id) AS r
        |  FROM documents)
        |SELECT rnk.doc_id, rnk.lang FROM rnk, lvl WHERE rnk.r <= lvl.c""".stripMargin,

    // same h32(shard:key) argmax (ties by smallest shard) at S=8 and
    // S=9; moved keys are exactly the new shard's wins
    "q227_rendezvous_shard" ->
      """WITH hs AS (
        |  SELECT doc_id, s.i AS shard,
        |    CAST(concat('0x', substr(md5(s.i || ':' || doc_id), 1, 8))
        |      AS BIGINT) AS h
        |  FROM documents, LATERAL (SELECT unnest(range(9)) AS i) s),
        |a8 AS (
        |  SELECT doc_id, shard FROM (
        |    SELECT doc_id, shard, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY h DESC, shard ASC) AS rn
        |    FROM hs WHERE shard < 8) WHERE rn = 1),
        |a9 AS (
        |  SELECT doc_id, shard FROM (
        |    SELECT doc_id, shard, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY h DESC, shard ASC) AS rn
        |    FROM hs) WHERE rn = 1)
        |SELECT a8.shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN a9.shard = 8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_moved
        |FROM a8 JOIN a9 USING (doc_id) GROUP BY 1""".stripMargin,

    // recursive-CTE clusters at 0.8 (the q39 idiom), the q44 rule
    // replay as an integer score, argmax per cluster (score desc, id
    // asc); unclustered docs are their own cluster
    "q226_quality_canonical" ->
      ("WITH RECURSIVE " + JaccardCtes(0.8) + ",\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          |          UNION ALL SELECT id_b, id_a FROM jpairs),
          |reach(id, r) AS (
          |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          |sc AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
          |      + CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END
          |      + CASE WHEN symbol_ratio < 0.1 THEN 1 ELSE 0 END
          |      + CASE WHEN dup_seg_ratio < 0.3 THEN 1 ELSE 0 END
          |      AS BIGINT) AS qscore
          |  FROM (
          |    SELECT doc_id,
          |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          |      round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          |            / len(string_split(text, ' ')), 6) AS mean_word_len,
          |      round((CAST(length(text) - length(replace(text, '#', ''))
          |               AS DOUBLE)
          |             + CAST(length(text) - length(replace(text, '...', ''))
          |               AS DOUBLE) / 3)
          |            / len(string_split(text, ' ')), 6) AS symbol_ratio,
          |      round(CAST(len(string_split(text, '. '))
          |             - len(list_distinct(string_split(text, '. ')))
          |             AS DOUBLE)
          |            / len(string_split(text, '. ')), 6) AS dup_seg_ratio
          |    FROM documents)),
          |ranked AS (
          |  SELECT d.doc_id, sc.qscore,
          |    row_number() OVER (
          |      PARTITION BY coalesce(c.cluster_id, d.doc_id)
          |      ORDER BY sc.qscore DESC, d.doc_id ASC) AS rn
          |  FROM documents d
          |  LEFT JOIN clusters c ON c.id = d.doc_id
          |  JOIN sc ON sc.doc_id = d.doc_id)
          |SELECT d.doc_id, d.source, d.n_chars, r.qscore
          |FROM ranked r JOIN documents d USING (doc_id) WHERE r.rn = 1""".stripMargin),

    // same boundary rule (md5-prefix h32 of the 3-token window mod 8 on
    // positions [2, n-2]), chunk reassembly, digest-grouped first
    // occurrence, per-doc savings
    "q225_cdc_chunks" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |pos AS (
        |  SELECT d.doc_id, t.i - 1 AS p, d.tk[t.i] AS tok
        |  FROM docs d,
        |    LATERAL (SELECT unnest(range(1, len(d.tk) + 1)) AS i) t),
        |bnd AS (
        |  SELECT d.doc_id, t.i - 1 AS b
        |  FROM docs d, LATERAL (SELECT unnest(range(3, len(d.tk))) AS i) t
        |  WHERE CAST(concat('0x', substr(md5(
        |      d.tk[t.i - 2] || ' ' || d.tk[t.i - 1] || ' ' || d.tk[t.i]),
        |      1, 8)) AS BIGINT) % 8 = 0),
        |tokchunk AS (
        |  SELECT p.doc_id, p.p, p.tok, count(b.b) AS c
        |  FROM pos p LEFT JOIN bnd b ON b.doc_id = p.doc_id AND b.b < p.p
        |  GROUP BY 1, 2, 3),
        |chunks AS (
        |  SELECT doc_id, c AS chunk_idx,
        |    md5(string_agg(tok, ' ' ORDER BY p)) AS h, count(*) AS ctok
        |  FROM tokchunk GROUP BY 1, 2),
        |marked AS (
        |  SELECT doc_id, chunk_idx, ctok,
        |    row_number() OVER (PARTITION BY h
        |      ORDER BY doc_id, chunk_idx) AS rn
        |  FROM chunks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN ctok ELSE 0 END) AS BIGINT)
        |    AS n_dup_tokens
        |FROM marked GROUP BY 1""".stripMargin,

    // the same exact pool (rounded-cosine top-20, ties by id), the same
    // micro-int lift, then five unrolled greedy picks
    "q224_mmr_rerank" ->
      ("""WITH cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id
         |  FROM embeddings c,
         |    (SELECT vec_id FROM embeddings WHERE vec_id < 3) q
         |  WHERE q.vec_id <> c.vec_id),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0
         |      THEN dot / (sqrt(nq) * sqrt(nc)) ELSE 0.0 END, 6) AS cosine
         |  FROM (
         |    SELECT c.query_id, c.vec_id,
         |      (SELECT sum(CAST(x * y AS DOUBLE))
         |       FROM (SELECT unnest(q.embedding) AS x,
         |             unnest(e.embedding) AS y)) AS dot,
         |      (SELECT sum(CAST(x * x AS DOUBLE))
         |       FROM (SELECT unnest(q.embedding) AS x)) AS nq,
         |      (SELECT sum(CAST(y * y AS DOUBLE))
         |       FROM (SELECT unnest(e.embedding) AS y)) AS nc
         |    FROM cand c
         |    JOIN embeddings q ON q.vec_id = c.query_id
         |    JOIN embeddings e ON e.vec_id = c.vec_id) c),
         |pool AS (
         |  SELECT query_id, vec_id,
         |    CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS rel6
         |  FROM (SELECT query_id, vec_id, cosine,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, vec_id ASC) AS rn
         |    FROM scored) WHERE rn <= 20),
         |pv AS (SELECT p.query_id, p.vec_id, e.embedding
         |       FROM pool p JOIN embeddings e USING (vec_id)),
         |psim AS (
         |  SELECT z.query_id, z.a, z.b,
         |    CAST(floor(round(CASE WHEN sqrt(z.na) * sqrt(z.nb) > 0
         |      THEN z.dp / (sqrt(z.na) * sqrt(z.nb)) ELSE 0.0 END, 6)
         |      * 1000000 + 0.5) AS BIGINT) AS sim6
         |  FROM (
         |    SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         |      (SELECT sum(CAST(x * y AS DOUBLE))
         |       FROM (SELECT unnest(a.embedding) AS x,
         |             unnest(b.embedding) AS y)) AS dp,
         |      (SELECT sum(CAST(x * x AS DOUBLE))
         |       FROM (SELECT unnest(a.embedding) AS x)) AS na,
         |      (SELECT sum(CAST(y * y AS DOUBLE))
         |       FROM (SELECT unnest(b.embedding) AS y)) AS nb
         |    FROM pv a JOIN pv b
         |      ON a.query_id = b.query_id AND a.vec_id <> b.vec_id) z),
         |sel1 AS (
         |  SELECT query_id, CAST(1 AS BIGINT) AS pick, vec_id,
         |    rel6 AS score FROM (
         |    SELECT query_id, vec_id, rel6,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rel6 DESC, vec_id ASC) AS rn
         |    FROM pool) WHERE rn = 1),
         |selu1 AS (SELECT * FROM sel1),
         |""".stripMargin +
        (2 to 5).map(MmrPickCtes).mkString(",\n") + """
        |SELECT query_id, pick, vec_id, score FROM selu5""".stripMargin),

    // same integer-grid LOO algebra: dot(x, S_l - x) = dot(x, S_l) - P,
    // ||S_l - x||² = Q_l - 2 dot(x, S_l) + P; cosine snapped to 6dp,
    // argmax ties by smallest label, single-member own label sentineled
    "q223_centroid_loo" ->
      """WITH xi AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS lab, t.i AS pos,
        |    CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 10000 + 0.5)
        |      AS BIGINT) AS x
        |  FROM embeddings e,
        |    LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) t),
        |sl AS (SELECT lab, pos, sum(x) AS s, count(*) AS n
        |       FROM xi GROUP BY 1, 2),
        |q AS (SELECT lab, sum(s * s) AS qq, min(n) AS n FROM sl GROUP BY 1),
        |p AS (SELECT vec_id, min(lab) AS lab, sum(x * x) AS pp
        |      FROM xi GROUP BY 1),
        |d AS (SELECT xi.vec_id, sl.lab AS m, sum(xi.x * sl.s) AS dm
        |      FROM xi JOIN sl ON sl.pos = xi.pos GROUP BY 1, 2),
        |sc AS (SELECT d.vec_id, d.m, p.lab, p.pp,
        |    CASE WHEN d.m = p.lab THEN d.dm - p.pp ELSE d.dm END AS a,
        |    CASE WHEN d.m = p.lab THEN q.qq - 2 * d.dm + p.pp
        |         ELSE q.qq END AS nc,
        |    CASE WHEN d.m = p.lab THEN q.n - 1 ELSE q.n END AS effn
        |  FROM d JOIN p USING (vec_id) JOIN q ON q.lab = d.m),
        |c AS (SELECT vec_id, lab, m,
        |    CASE WHEN effn > 0 AND nc > 0 AND pp > 0
        |      THEN CAST(floor(CAST(a AS DOUBLE)
        |        / sqrt(CAST(pp AS DOUBLE) * CAST(nc AS DOUBLE))
        |        * 1000000 + 0.5) AS BIGINT)
        |      ELSE -2000000 END AS c6
        |  FROM sc),
        |pr AS (SELECT vec_id, lab, m, c6,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY c6 DESC, m ASC) AS rn FROM c)
        |SELECT vec_id, lab AS label, m AS pred, c6 AS cos6,
        |  m = lab AS correct
        |FROM pr WHERE rn = 1""".stripMargin,

    // The verified MinHash+LSH pairs must EQUAL the exact pairs at these
    // settings (recall 1.0 at 16x2 bands for j>=0.35; precision 1.0 by
    // the true-Jaccard verify step) — so the exact oracle applies
    // verbatim and hash-checks LSH recall every round.
    // CAVEAT (probabilistic, not a guarantee): at 16 bands x 2 rows a
    // pair at exactly j=0.35 misses all bands with prob ~(1-0.35^2)^16
    // ~= 12%; recall 1.0 is an empirical property of the tested corpora
    // (their near-dup pairs sit well above threshold). If this oracle
    // (or q37/q39, which inherit it) fails on NEW data, first suspect
    // LSH recall < 1.0 on that corpus — by-design behavior — rather
    // than an engine bug; the fix is more bands, not operator surgery.
    "q31_dedup_minhash" ->
      ("WITH " + JaccardCtes(0.35) + "\nSELECT id_a, id_b, jaccard FROM jpairs"),

    // Byte-exact replay of the engine's signature pipeline: FNV-1a 64
    // over word-2-gram shingles (HUGEINT multiply mod 2^64 inside a
    // list_reduce), per-bit majority vote over DISTINCT shingle hashes,
    // then ALL-PAIRS Hamming <= 3. Equality with the banded-LSH engine
    // output is guaranteed by pigeonhole (see the query comment), so
    // this is a hard oracle, not a recall check.
    "q32_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |shingle AS (
        |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
        |      THEN [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]
        |      ELSE [list_aggregate(tk, 'string_agg', ' ')] END) AS s
        |  FROM toks),
        |hashed AS (
        |  SELECT DISTINCT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |      [CAST(unicode(s[i]) AS UBIGINT) for i in range(1, length(s)+1)]),
        |    (h, c) -> CAST(CAST(xor(h, c) AS HUGEINT) * 1099511628211
        |                   % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT)) AS h
        |  FROM shingle),
        |votes AS (
        |  SELECT doc_id, b.i,
        |    sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hashed, (SELECT unnest(range(64)) AS i) b
        |  GROUP BY doc_id, b.i),
        |sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << i
        |             ELSE CAST(0 AS UBIGINT) END) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,

    // Cluster resolution is oracle-checkable too: the verified minhash
    // pairs equal the exact-Jaccard pairs at these settings (recall 1.0,
    // asserted in specs AND by this hash check), and min-label
    // connected components are a recursive CTE.
    "q37_dedup_resolve" ->
      ("WITH RECURSIVE " + JaccardCtes(0.35) + ",\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          |          UNION ALL SELECT id_b, id_a FROM jpairs),
          |reach(id, r) AS (
          |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
          |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
          |  min(id) AS survivor_id
          |FROM clusters GROUP BY cluster_id""".stripMargin),

    // every pipeline stage replayed: token floor, unrounded top-bigram
    // share, md5 keep-first dedup, md5-ordered per-source cap, PII chain
    "q83_corpus_prepare" ->
      """WITH q AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |bg AS (
        |  SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM q) d,
        |       LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t),
        |rep AS (
        |  SELECT doc_id FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY doc_id HAVING CAST(max(c) AS DOUBLE) / sum(c) <= 0.2),
        |kept AS (SELECT q.* FROM q JOIN rep USING (doc_id)),
        |dd AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM kept)
        |  WHERE rn = 1),
        |capped AS (
        |  SELECT * FROM (SELECT doc_id, source, text, row_number() OVER (
        |      PARTITION BY source ORDER BY md5(text), doc_id) AS rk FROM dd)
        |  WHERE rk <= 50),
        |fin AS (
        |  SELECT doc_id, source,
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS ct
        |  FROM capped)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(ct)) AS BIGINT) AS sum_chars, min(doc_id) AS min_doc
        |FROM fin GROUP BY source""".stripMargin,

    // cross-split projection of the exact-Jaccard pairs: one side new
    // (doc_id % 10 = 0), the other indexed
    "q81_dedup_incremental" ->
      ("WITH " + JaccardCtes(0.35) + """
        |SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
        |  CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS old_id,
        |  jaccard
        |FROM jpairs
        |WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)""".stripMargin),

    // star contraction computes the same components as label propagation;
    // the recursive-CTE oracle is identical to q37's
    "q78_dedup_resolve_star" ->
      ("WITH RECURSIVE " + JaccardCtes(0.35) + ",\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          |          UNION ALL SELECT id_b, id_a FROM jpairs),
          |reach(id, r) AS (
          |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
          |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
          |  min(id) AS survivor_id
          |FROM clusters GROUP BY cluster_id""".stripMargin),

    // End-to-end corpus dedup: survivors = documents minus non-minimum
    // members of each component at threshold 0.8.
    "q39_dedup_corpus" ->
      ("WITH RECURSIVE " + JaccardCtes(0.8) + ",\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          |          UNION ALL SELECT id_b, id_a FROM jpairs),
          |reach(id, r) AS (
          |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
          |SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin),

    // Brute-force cosine top-k: every (query, corpus) pair is a candidate;
    // the shared tail mirrors the Spark math exactly (float products,
    // double-accumulated sums, round(6) BEFORE ranking, ties by vec_id).
    "q35_sim_bruteforce" ->
      ("""WITH cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id
         |  FROM embeddings c, (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
         |  WHERE q.vec_id <> c.vec_id),
         |""".stripMargin + CosineRankTail),

    "q36_sim_lsh" -> LshOracleSql,

    // ANN recall grading: the oracle replays the exact brute-force top-k
    // (same candidate set + cosine/rank tail as q35) and pins both
    // approximate-path recall booleans to TRUE — exact_topk is
    // hash-checked, recall is graded against the 0.5 floor.
    "q164_ann_recall" ->
      """WITH cand AS (
        |  SELECT q.vec_id AS query_id, c.vec_id
        |  FROM embeddings c, (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
        |  WHERE q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT c.query_id, c.vec_id,
        |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0 THEN dot / (sqrt(nq) * sqrt(nc))
        |               ELSE 0.0 END, 6) AS cosine
        |  FROM (
        |    SELECT c.query_id, c.vec_id,
        |      (SELECT sum(CAST(x * y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) AS dot,
        |      (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x)) AS nq,
        |      (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)) AS nc
        |    FROM cand c
        |    JOIN embeddings q ON q.vec_id = c.query_id
        |    JOIN embeddings e ON e.vec_id = c.vec_id) c),
        |topk AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
        |    FROM scored) WHERE rn <= 10)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS k,
        |  string_agg(CAST(vec_id AS VARCHAR), '|' ORDER BY vec_id) AS exact_topk,
        |  TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok,
        |  TRUE AS lsh_corpus_ok, TRUE AS ivf_corpus_ok
        |FROM topk GROUP BY query_id""".stripMargin,

    // bounded-error grading (q24 pattern): exact quantiles hash-checked,
    // sketch quantiles pinned within the tolerance band
    "q165_kmv_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_exact,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // Embedding near-dup mirror: buckets computed on the NORMALIZED
    // vector (the exact arithmetic the Spark side buckets), the operator's
    // maxBucket=10000 skew cap applied, pair cosine recomputed
    // element-wise on the normalized values.
    "q34_embed_neardup" ->
      s"""WITH normed AS (
         |  SELECT vec_id, embedding,
         |    (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(embedding) AS x)) AS nsq
         |  FROM embeddings),
         |cb AS (
         |  SELECT vec_id, ${BucketExprSql(normalize = true)} AS bucket FROM normed e),
         |cb2 AS (
         |  SELECT cb.vec_id, cb.bucket FROM cb
         |  JOIN (SELECT bucket, count(*) AS bn FROM cb GROUP BY bucket) bs
         |    ON cb.bucket = bs.bucket
         |  WHERE bs.bn <= 10000),
         |bpairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM cb2 a JOIN cb2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT id_a, id_b,
         |    round((SELECT sum((CAST(x AS DOUBLE) / sqrt(na.nsq)) *
         |                      (CAST(y AS DOUBLE) / sqrt(nb.nsq)))
         |           FROM (SELECT unnest(ea.embedding) AS x, unnest(eb.embedding) AS y)), 6) AS cosine
         |  FROM bpairs
         |  JOIN embeddings ea ON ea.vec_id = id_a JOIN normed na ON na.vec_id = id_a
         |  JOIN embeddings eb ON eb.vec_id = id_b JOIN normed nb ON nb.vec_id = id_b)
         |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4""".stripMargin,

    // Full IVF mirror: deterministic centroids (16 smallest ids), argmax
    // assignment and top-4 probes on double-widened cosines (CosinesExpr
    // widens before multiplying), exact rerank on float-product cosines
    // (the HOF path), round(6) before ranking, ties by id.
    "q38_sim_ivf" ->
      ("""WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT e.vec_id, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents c2),
        |asn2 AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM asn),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2 WHERE vec_id < 5) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE p.query_id <> a.vec_id),
        |""".stripMargin + CosineRankTail),

    // the q38 mirror with centroids seeded from the BASE corpus (delta
    // ids 5..24 excluded from the seed scan) and assignment over
    // base ∪ delta in one pass — per-vector assignment is batch-order
    // independent, so this replays the write-then-append exactly
    "q320_ivf_append" ->
      ("""WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id < 5 OR vec_id >= 25 ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT e.vec_id, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents c2),
        |asn2 AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM asn),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2 WHERE vec_id < 5) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE p.query_id <> a.vec_id),
        |""".stripMargin + CosineRankTail),

    // the q320 replay searched under TWO snapshots: version 1 holds
    // only the base corpus (the append and the delete came later — the
    // deleted rows are still visible, which is the isolation contract
    // under test), the latest holds base ∪ delta minus vec_id % 7 = 3.
    // Centroids are base-seeded (immutable across versions); assignment
    // is per-vector so one pass covers both candidate sets.
    "q332_ivf_versioned" ->
      ("""WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE vec_id < 5 OR vec_id >= 25 ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT e.vec_id, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents c2),
        |asn2 AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM asn),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2 WHERE vec_id < 5) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id, s.snapshot
        |  FROM probes p
        |  JOIN assigned a ON p.list_id = a.list_id
        |  CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(3 AS BIGINT))) s(snapshot)
        |  WHERE p.query_id <> a.vec_id
        |    AND ((s.snapshot = 1 AND (a.vec_id < 5 OR a.vec_id >= 25))
        |      OR (s.snapshot = 3 AND a.vec_id % 7 <> 3))),
        |scored AS (
        |  SELECT c.query_id, c.vec_id, c.snapshot,
        |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0 THEN dot / (sqrt(nq) * sqrt(nc))
        |               ELSE 0.0 END, 6) AS cosine
        |  FROM (
        |    SELECT c.query_id, c.vec_id, c.snapshot,
        |      (SELECT sum(CAST(x * y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) AS dot,
        |      (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x)) AS nq,
        |      (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)) AS nc
        |    FROM cand c
        |    JOIN embeddings q ON q.vec_id = c.query_id
        |    JOIN embeddings e ON e.vec_id = c.vec_id) c)
        |SELECT query_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank, snapshot FROM (
        |  SELECT query_id, vec_id, cosine, snapshot,
        |    row_number() OVER (PARTITION BY query_id, snapshot
        |                       ORDER BY cosine DESC, vec_id ASC) AS rn
        |  FROM scored) WHERE rn <= 10""".stripMargin),

    // the q320 assignment replay over the FULL corpus, with the
    // forgotten rows (vec_id % 7 = 3) removed from the candidate set —
    // exactly what the keyed forget deletes from the index
    "q324_ivf_delete" ->
      ("""WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT e.vec_id, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents c2),
        |asn2 AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM asn),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2 WHERE vec_id < 5) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE p.query_id <> a.vec_id AND a.vec_id % 7 <> 3),
        |""".stripMargin + CosineRankTail),

    "q325_graph_ann_delete" ->
      GraphAnnCheapSearchOracle(beamWidth = 32,
        liveCond = "vec_id % 5 <> 2", k = 10),

    "q329_graph_ann_filtered" ->
      GraphAnnCheapSearchOracle(beamWidth = 48,
        liveCond = "vec_id IN (SELECT vec_id FROM embeddings WHERE label = 3)",
        k = 5),

    // identical cosine/rank math as q35 with the label split: negatives
    // ranked per anchor, positives reduced to the max, integer margin
    "q330_hard_negatives" ->
      """WITH sc AS (
        |  SELECT c.query_id, c.vec_id, c.c_lab, c.q_lab,
        |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0 THEN dot / (sqrt(nq) * sqrt(nc))
        |               ELSE 0.0 END, 6) AS cosine
        |  FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id, e.label AS c_lab,
        |      q.label AS q_lab,
        |      (SELECT sum(CAST(x * y AS DOUBLE))
        |       FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) AS dot,
        |      (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x)) AS nq,
        |      (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)) AS nc
        |    FROM embeddings q, embeddings e
        |    WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id) c),
        |pos AS (
        |  SELECT query_id, max(cosine) AS pos_cos FROM sc
        |  WHERE c_lab = q_lab GROUP BY query_id),
        |neg AS (
        |  SELECT query_id, vec_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        |  FROM sc WHERE c_lab <> q_lab)
        |SELECT n.query_id, n.vec_id, n.cosine, n.rank, p.pos_cos,
        |  CAST(floor(n.cosine * 1e6 + 0.5) AS BIGINT)
        |    - CAST(floor(p.pos_cos * 1e6 + 0.5) AS BIGINT) AS margin6
        |FROM neg n LEFT JOIN pos p USING (query_id)
        |WHERE n.rank <= 5""".stripMargin,

    "q326_mmr_rerank" -> MmrOracle(k = 5, lambda6 = 700000L, candK = 20),

    // the q81 oracle with the forgotten ids (old side % 10 = 2)
    // excluded — exactly the rows the keyed forget deletes
    "q327_dedup_index_lifecycle" ->
      ("WITH " + JaccardCtes(0.35) + """
        |SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
        |  CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS old_id,
        |  jaccard
        |FROM jpairs
        |WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
        |  AND (CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END) % 10 <> 2""".stripMargin),

    // q327's oracle WITHOUT the deletion exclusion: the Spark side pins
    // the pre-forget version, so the m10=2 partners must be present —
    // the oracle knows nothing of the later delete by design
    "q335_dedup_index_versioned" ->
      ("WITH " + JaccardCtes(0.35) + """
        |SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
        |  CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS old_id,
        |  jaccard
        |FROM jpairs
        |WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)""".stripMargin),

    // q327's oracle (WITH the deletion exclusion): the keyed forget took
    // effect and the pairs query reads the current version, so no m10=2
    // partner may appear — a bloom false negative (skipped file the
    // rewrite needed) would leave one and hash-mismatch
    "q341_index_forget_by_key" ->
      ("WITH " + JaccardCtes(0.35) + """
        |SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS new_id,
        |  CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS old_id,
        |  jaccard
        |FROM jpairs
        |WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
        |  AND (CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END) % 10 <> 2""".stripMargin),

    // q338's oracle with the purge range excluded: the bounded delete
    // must remove exactly the BETWEEN rows, however discovery narrowed
    "q344_date_retention_purge" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
        |  round(o_totalprice, 2) AS price
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1994-06-01'""".stripMargin,

    "q345_tuned_pipeline" -> TunedPipelineOracleSql,

    "q346_zorder_box_delete" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders
        |WHERE NOT (o_custkey BETWEEN 300 AND 600
        |           AND o_orderkey BETWEEN 10000 AND 40000)""".stripMargin,

    "q343_cdc_bounded_purge" ->
      """SELECT o_orderkey, o_custkey,
        |  round(CASE WHEN o_orderkey % 2 = 0
        |             THEN round(o_totalprice, 2) + 10.0
        |             ELSE round(o_totalprice, 2) END, 2) AS price
        |FROM orders
        |WHERE (o_orderkey % 4 <> 0 OR o_orderkey % 2 = 0)
        |  AND o_orderkey % 8 <> 1
        |  AND o_orderkey NOT BETWEEN 3000 AND 6000""".stripMargin,

    "q342_merge_composite_key" ->
      """SELECT o_custkey, o_orderkey,
        |  round(CASE WHEN o_orderkey % 2 = 0
        |             THEN round(o_totalprice, 2) + 10.0
        |             ELSE round(o_totalprice, 2) END, 2) AS price
        |FROM orders
        |WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0""".stripMargin,

    "q338_cdc_apply" ->
      """SELECT o_orderkey, o_custkey,
        |  round(CASE WHEN o_orderkey % 2 = 0
        |             THEN round(o_totalprice, 2) + 10.0
        |             ELSE round(o_totalprice, 2) END, 2) AS price
        |FROM orders
        |WHERE (o_orderkey % 4 <> 0 OR o_orderkey % 2 = 0)
        |  AND o_orderkey % 8 <> 1""".stripMargin,

    // q338's oracle VERBATIM: compaction/log pruning must not perturb
    // the applied state
    "q339_cdc_compacted" ->
      """SELECT o_orderkey, o_custkey,
        |  round(CASE WHEN o_orderkey % 2 = 0
        |             THEN round(o_totalprice, 2) + 10.0
        |             ELSE round(o_totalprice, 2) END, 2) AS price
        |FROM orders
        |WHERE (o_orderkey % 4 <> 0 OR o_orderkey % 2 = 0)
        |  AND o_orderkey % 8 <> 1""".stripMargin,

    "q337_manifest_merge" ->
      """SELECT c_custkey, c_name,
        |  round(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1000.0
        |             ELSE c_acctbal END, 2) AS acctbal
        |FROM customer
        |WHERE c_custkey % 3 <> 0 OR c_custkey % 2 = 0""".stripMargin,

    "q336_length_cap" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) <= 300 OR text IS NULL
        |       THEN 'valid' ELSE 'quarantined' END AS side
        |FROM documents""".stripMargin,

    // the q324 assignment replay with nprobe=6 probes and the label=3
    // predicate applied to the candidate set — exactly the pushed scan
    // filter of the metadata-bearing index
    "q328_filtered_ann" ->
      ("""WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT e.vec_id, e.label, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents c2),
        |asn2 AS (
        |  SELECT vec_id, label, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM asn),
        |assigned AS (
        |  SELECT vec_id, label, cid AS list_id FROM (
        |    SELECT vec_id, label, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM asn2 WHERE vec_id < 5) WHERE rn <= 6),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE p.query_id <> a.vec_id AND a.label = 3),
        |""".stripMargin + CosineRankTail),

    // identical quantization math: max|x| in double, 127/am, round-half-up
    // via floor(x*scale + 0.5), clamp, then order-independent integer sums
    "q82_embed_quantize" ->
      """WITH sc AS (
        |  SELECT vec_id, embedding AS v,
        |    (SELECT max(abs(CAST(x AS DOUBLE)))
        |     FROM (SELECT unnest(embedding) AS x)) AS am
        |  FROM embeddings),
        |sc2 AS (
        |  SELECT vec_id, v,
        |    CASE WHEN am > 0 THEN 127.0 / am ELSE 0.0 END AS scale
        |  FROM sc),
        |qx AS (
        |  SELECT s.vec_id, s.scale, len(s.v) AS n,
        |    least(127, greatest(-127,
        |      CAST(floor(CAST(t.x AS DOUBLE) * s.scale + 0.5) AS BIGINT))) AS q
        |  FROM sc2 s, LATERAL (SELECT unnest(s.v) AS x) t)
        |SELECT vec_id, CAST(n AS BIGINT) AS n_dims, round(scale, 6) AS scale,
        |  CAST(sum(q) AS BIGINT) AS q_sum, CAST(sum(q * q) AS BIGINT) AS q_norm2
        |FROM qx GROUP BY vec_id, n, scale""".stripMargin,

    // two unrolled Lloyd's iterations (cents0 = the q38 seed, widened to
    // double like the Spark side), then the q38 search shape under the
    // trained cents2
    "q77_sim_ivf_kmeans" ->
      ("""WITH cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |""".stripMargin +
        KmeansIterCtes(0) + ",\n" + KmeansIterCtes(1) + ",\n" +
        """fasn AS (
        |  SELECT e.vec_id, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * y)
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(y * y) FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents2 c2),
        |fasn2 AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM fasn),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM fasn2) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM fasn2 WHERE vec_id < 5) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE p.query_id <> a.vec_id),
        |""".stripMargin + CosineRankTail),

    // same training/assignment CTEs as q77, then within-cluster pairs;
    // cosine math mirrors cosinePair's both-float path (multiply in
    // float, widen after: CAST(x * y AS DOUBLE))
    "q91_semantic_dedup" ->
      ("""WITH cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |""".stripMargin +
        KmeansIterCtes(0) + ",\n" + KmeansIterCtes(1) + ",\n" +
        """fasn AS (
        |  SELECT e.vec_id, c2.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * y)
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(y * y) FROM (SELECT unnest(c2.cv) AS y)) AS nc
        |  FROM embeddings e, cents2 c2),
        |fasn2 AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN sqrt(ne) * sqrt(nc) > 0 THEN dot / (sqrt(ne) * sqrt(nc))
        |         ELSE 0.0 END AS cos
        |  FROM fasn),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |    FROM fasn2) WHERE rn = 1),
        |prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assigned a JOIN assigned b
        |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id),
        |simdrop AS (
        |  SELECT DISTINCT id_b FROM (
        |    SELECT p.id_b,
        |      (SELECT sum(CAST(x * y AS DOUBLE))
        |       FROM (SELECT unnest(ea.embedding) AS x, unnest(eb.embedding) AS y)) AS dot,
        |      (SELECT sum(CAST(x * x AS DOUBLE))
        |       FROM (SELECT unnest(ea.embedding) AS x)) AS na,
        |      (SELECT sum(CAST(y * y AS DOUBLE))
        |       FROM (SELECT unnest(eb.embedding) AS y)) AS nb
        |    FROM prs p
        |    JOIN embeddings ea ON ea.vec_id = p.id_a
        |    JOIN embeddings eb ON eb.vec_id = p.id_b)
        |  WHERE round(CASE WHEN sqrt(na) * sqrt(nb) > 0
        |                   THEN dot / (sqrt(na) * sqrt(nb)) ELSE 0.0 END, 6) >= 0.38)
        |SELECT a.vec_id, a.list_id, (d.id_b IS NOT NULL) AS dropped
        |FROM assigned a LEFT JOIN simdrop d ON a.vec_id = d.id_b""".stripMargin),

    // quota math mirrors CorpusMix.quotas: B = total*3//5 (integer),
    // q_s = floor(B * n^0.5 / sum(n^0.5)); selection = rank by (md5, id)
    "q92_temperature_mix" ->
      """WITH cnt AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |quota AS (
        |  SELECT lang,
        |    CAST(floor(((SELECT sum(n) FROM cnt) * 3 // 5)
        |      * pow(n, 0.5) / (SELECT sum(pow(n, 0.5)) FROM cnt)) AS BIGINT) AS q
        |  FROM cnt),
        |ranked AS (
        |  SELECT d.lang, d.n_chars, d.doc_id, q.q,
        |    row_number() OVER (PARTITION BY d.lang
        |                       ORDER BY md5(d.text), d.doc_id) AS rk
        |  FROM documents d JOIN quota q ON d.lang = q.lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM ranked WHERE rk <= q GROUP BY lang""".stripMargin,

    // the same next-fit fold, replayed sequentially per shard by a
    // recursive CTE stepping rk -> rk+1 (first doc always opens bin 0)
    "q93_sequence_pack" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id % 8 AS shard, doc_id, n_chars AS w,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rk
        |  FROM documents),
        |pack AS (
        |  SELECT shard, rk, doc_id, w, CAST(0 AS BIGINT) AS bin, w AS fill
        |  FROM base WHERE rk = 1
        |  UNION ALL
        |  SELECT b.shard, b.rk, b.doc_id, b.w,
        |    CASE WHEN p.fill + b.w > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + b.w > 2048 THEN b.w ELSE p.fill + b.w END
        |  FROM pack p JOIN base b ON b.shard = p.shard AND b.rk = p.rk + 1)
        |SELECT doc_id, shard, bin, fill - w AS offset FROM pack""".stripMargin,

    // the same recursive fold, aggregated per (shard, bin)
    "q101_pack_manifest" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id % 8 AS shard, doc_id, n_chars AS w,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rk
        |  FROM documents),
        |pack AS (
        |  SELECT shard, rk, doc_id, w, CAST(0 AS BIGINT) AS bin, w AS fill
        |  FROM base WHERE rk = 1
        |  UNION ALL
        |  SELECT b.shard, b.rk, b.doc_id, b.w,
        |    CASE WHEN p.fill + b.w > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + b.w > 2048 THEN b.w ELSE p.fill + b.w END
        |  FROM pack p JOIN base b ON b.shard = p.shard AND b.rk = p.rk + 1)
        |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS packed_w, min(doc_id) AS first_id,
        |  floor(CAST(sum(w) AS DOUBLE) / 2048 * 1e6 + 0.5) / 1e6 AS utilization
        |FROM pack GROUP BY shard, bin""".stripMargin,

    // q37's component CTEs + the hash-split correction: every doc takes
    // its cluster representative's base split; singletons keep their own
    "q94_leakage_split" ->
      ("WITH RECURSIVE " + JaccardCtes(0.35) + ",\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          |          UNION ALL SELECT id_b, id_a FROM jpairs),
          |reach(id, r) AS (
          |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
          |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          |base AS (
          |  SELECT doc_id AS id, substr(md5(text), 1, 4) < '199a' AS base_val
          |  FROM documents),
          |withrep AS (
          |  SELECT b.id, b.base_val, coalesce(c.cluster_id, b.id) AS rep
          |  FROM base b LEFT JOIN clusters c ON c.id = b.id)
          |SELECT w.id AS doc_id,
          |  CASE WHEN rb.base_val THEN 'val' ELSE 'train' END AS split,
          |  (rb.base_val <> w.base_val) AS moved
          |FROM withrep w JOIN base rb ON rb.id = w.rep""".stripMargin),

    // same model: top-16 vocab by (count desc, term asc), lp rounded 6dp
    // BEFORE the per-doc mean (identical summands across engines)
    "q95_unigram_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |cnt AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt),
        |vocab AS (
        |  SELECT term, round(ln(CAST(cnt AS DOUBLE) / total), 6) AS lp
        |  FROM (SELECT term, cnt,
        |          row_number() OVER (ORDER BY cnt DESC, term) AS rk
        |        FROM cnt), tot
        |  WHERE rk <= 16),
        |scored AS (
        |  SELECT t.doc_id,
        |    coalesce(v.lp, (SELECT round(ln(1.0 / total), 6) FROM tot)) AS lp
        |  FROM toks t LEFT JOIN vocab v ON t.term = v.term)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  floor(round(sum(lp), 6) / count(*) * 1e6 + 0.5) / 1e6 AS mean_logp
        |FROM scored GROUP BY doc_id""".stripMargin,

    // 10-token spans as strings (ShingleExpr semantics: lower, split on
    // single space, <n tokens -> whole text, per-doc distinct)
    "q96_dup_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT d.doc_id, array_to_string(d.toks[t.i:t.i+9], ' ') AS g
        |    FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 8)) AS i) t
        |    WHERE len(d.toks) >= 10
        |    UNION ALL
        |    SELECT doc_id, array_to_string(toks, ' ') FROM docs
        |    WHERE len(toks) < 10)),
        |wdf AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY g) AS df FROM grams)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  floor(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*) * 1e6 + 0.5) / 1e6 AS dup_fraction,
        |  (floor(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) * 1e6 + 0.5) / 1e6 <= 0.5) AS keep
        |FROM wdf GROUP BY doc_id""".stripMargin,

    // the q188 rebuild shape with cover = windows present in the eval
    // split (all occurrences removed, no rn > 1 survivor rule)
    "q323_scrub_eval_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |corp AS (SELECT * FROM docs WHERE doc_id % 20 <> 0),
        |win AS (
        |  SELECT doc_id, t.i - 1 AS pos,
        |    array_to_string(tk[t.i:t.i+9], ' ') AS g
        |  FROM corp d, LATERAL (SELECT unnest(range(1, len(d.tk) - 8)) AS i) t
        |  WHERE len(d.tk) >= 10),
        |ev AS (
        |  SELECT DISTINCT array_to_string(tk[t.i:t.i+9], ' ') AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk) - 8)) AS i) t
        |  WHERE doc_id % 20 = 0 AND len(d.tk) >= 10),
        |cov AS (
        |  SELECT DISTINCT w.doc_id, w.pos + t.j AS tp
        |  FROM win w JOIN ev USING (g),
        |    LATERAL (SELECT unnest(range(0, 10)) AS j) t),
        |toks AS (
        |  SELECT doc_id, t.i - 1 AS tp, tk[t.i] AS tok
        |  FROM corp d, LATERAL (SELECT unnest(range(1, len(d.tk) + 1)) AS i) t),
        |kept AS (
        |  SELECT k.doc_id, k.tp, k.tok FROM toks k
        |  LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.tp = k.tp
        |  WHERE c.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY tp) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(len(d.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM corp d
        |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,

    // windows over gram STRINGS (Spark shuffles hashes), occurrence
    // count >= 2, then the identical gaps-and-islands interval merge
    "q321_dup_span_extents" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (
        |  SELECT doc_id, t.i - 1 AS pos,
        |    array_to_string(tk[t.i:t.i+9], ' ') AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk) - 8)) AS i) t
        |  WHERE len(d.tk) >= 10),
        |occ AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT w.doc_id, w.pos FROM win w JOIN occ o ON o.g = w.g),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
        |      THEN 1 ELSE 0 END AS nw
        |  FROM dup),
        |isl2 AS (
        |  SELECT doc_id, pos,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_len,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM isl2 GROUP BY doc_id, grp""".stripMargin,

    // quota DIV n copies + one extra for the first (quota MOD n) ranked
    // rows; epochs unrolled with generate_series
    "q97_mix_epochs" ->
      """WITH cnt AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |quota AS (
        |  SELECT lang, n,
        |    CAST(floor(((SELECT sum(n) FROM cnt) * 1 // 1)
        |      * pow(n, 0.0) / (SELECT sum(pow(n, 0.0)) FROM cnt)) AS BIGINT) AS q
        |  FROM cnt),
        |ranked AS (
        |  SELECT d.lang, d.doc_id, q.q, q.n,
        |    row_number() OVER (PARTITION BY d.lang
        |                       ORDER BY md5(d.text), d.doc_id) AS rk
        |  FROM documents d JOIN quota q ON d.lang = q.lang),
        |copies AS (
        |  SELECT lang, doc_id,
        |    (q // n) + CASE WHEN rk <= (q % n) THEN 1 ELSE 0 END AS c
        |  FROM ranked),
        |exploded AS (
        |  SELECT lang, doc_id,
        |    unnest(generate_series(1, CAST(c AS BIGINT))) AS epoch
        |  FROM copies WHERE c > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(max(epoch) AS BIGINT) AS max_epoch,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM exploded GROUP BY lang""".stripMargin,

    // q83's stage chain (carrying lang), then q92's quota CTEs over the
    // CLEANED corpus, then q93's recursive next-fit fold over the mixed
    // rows — every stage of the composition replayed
    "q100_corpus_to_sequences" ->
      """WITH RECURSIVE q AS (
        |  SELECT doc_id, source, lang, text FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |bg AS (
        |  SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM q) d,
        |       LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t),
        |rep AS (
        |  SELECT doc_id FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY doc_id HAVING CAST(max(c) AS DOUBLE) / sum(c) <= 0.2),
        |kept AS (SELECT q.* FROM q JOIN rep USING (doc_id)),
        |dd AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM kept)
        |  WHERE rn = 1),
        |capped AS (
        |  SELECT * FROM (SELECT doc_id, source, lang, text, row_number() OVER (
        |      PARTITION BY source ORDER BY md5(text), doc_id) AS rk FROM dd)
        |  WHERE rk <= 50),
        |fin AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS ct
        |  FROM capped),
        |cnt AS (SELECT lang, count(*) AS n FROM fin GROUP BY lang),
        |quota AS (
        |  SELECT lang,
        |    CAST(floor(((SELECT sum(n) FROM cnt) * 3 // 5)
        |      * pow(n, 0.5) / (SELECT sum(pow(n, 0.5)) FROM cnt)) AS BIGINT) AS qt
        |  FROM cnt),
        |mixed AS (
        |  SELECT doc_id, lang, ct FROM (
        |    SELECT f.doc_id, f.lang, f.ct, u.qt,
        |      row_number() OVER (PARTITION BY f.lang
        |                         ORDER BY md5(f.ct), f.doc_id) AS rk
        |    FROM fin f JOIN quota u ON f.lang = u.lang)
        |  WHERE rk <= qt),
        |base AS (
        |  SELECT doc_id % 8 AS shard, doc_id, lang, len(ct) AS w,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS prk
        |  FROM mixed),
        |pack AS (
        |  SELECT shard, prk, doc_id, lang, w, CAST(0 AS BIGINT) AS bin, w AS fill
        |  FROM base WHERE prk = 1
        |  UNION ALL
        |  SELECT b.shard, b.prk, b.doc_id, b.lang, b.w,
        |    CASE WHEN p.fill + b.w > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + b.w > 2048 THEN b.w ELSE p.fill + b.w END
        |  FROM pack p JOIN base b ON b.shard = p.shard AND b.prk = p.prk + 1)
        |SELECT doc_id, lang, shard, bin, fill - w AS offset FROM pack""".stripMargin,

    "q98_star_topk_revenue" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "q30_dedup_exact" ->
      """SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q40_text_stats" ->
      ("""SELECT doc_id, n_tokens, n_chars_calc, punct_ratio, digit_ratio,
        |  round(CAST((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.4 ELSE 0.0 END)
        |      + (CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN sw_ratio > 0.05 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 2) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars_calc,
        |    CASE WHEN length(text) > 0 THEN round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text), 6) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN length(text) > 0 THEN round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text), 6) ELSE 0.0 END AS digit_ratio,
        |    CASE WHEN len(string_split(text, ' ')) > 0 THEN round(CAST(len(regexp_extract_all(lower(text), '""" + AllStopPat + """')) AS DOUBLE) / len(string_split(text, ' ')), 6) ELSE 0.0 END AS sw_ratio
        |  FROM documents)""").stripMargin,

    "q41_langid" ->
      ("""SELECT doc_id,
        |  CASE WHEN s_en > 0 AND s_en = best THEN 'en'
        |       WHEN s_es > 0 AND s_es = best THEN 'es'
        |       WHEN s_fr > 0 AND s_fr = best THEN 'fr'
        |       WHEN s_de > 0 AND s_de = best THEN 'de'
        |       ELSE 'und' END AS lang_guess,
        |  lang AS lang_label
        |FROM (SELECT doc_id, lang, s_en, s_es, s_fr, s_de,
        |        greatest(s_en, s_es, s_fr, s_de) AS best
        |      FROM (SELECT doc_id, lang,
        |        len(regexp_extract_all(lower(text), '""" + LangPats("en") + """')) AS s_en,
        |        len(regexp_extract_all(lower(text), '""" + LangPats("es") + """')) AS s_es,
        |        len(regexp_extract_all(lower(text), '""" + LangPats("fr") + """')) AS s_fr,
        |        len(regexp_extract_all(lower(text), '""" + LangPats("de") + """')) AS s_de
        |      FROM documents))""").stripMargin,

    "q42_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpeish_tokens
        |FROM documents""".stripMargin,

    "q44_quality_rules" ->
      """SELECT doc_id, n_words, mean_word_len, symbol_ratio, dup_seg_ratio,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
        |   AND symbol_ratio < 0.1 AND dup_seg_ratio < 0.3) AS quality_pass
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |          / len(string_split(text, ' ')), 6) AS mean_word_len,
        |    round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
        |           + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
        |          / len(string_split(text, ' ')), 6) AS symbol_ratio,
        |    round(CAST(len(string_split(text, '. '))
        |               - len(list_distinct(string_split(text, '. '))) AS DOUBLE)
        |          / len(string_split(text, '. ')), 6) AS dup_seg_ratio
        |  FROM documents)""".stripMargin,

    "q47_repetition" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t
        |  WHERE len(d.toks) >= 2),
        |counts AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
        |  (CAST(max(c) AS DOUBLE) / sum(c) > 0.2) AS repetitive
        |FROM counts GROUP BY doc_id""".stripMargin,

    // deterministic per-source cap: same md5-then-id ordering in both
    // engines (hex md5 sorts identically)
    "q49_per_source_cap" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  min(doc_id) AS min_doc, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 50 GROUP BY source""".stripMargin,

    // top-{2,3,4}-gram shares; comparisons run on the ROUNDED shares,
    // mirroring the Spark side exactly
    "q79_repetition_multi" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 4),
        |bg2 AS (
        |  SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t),
        |bg3 AS (
        |  SELECT d.doc_id,
        |    d.toks[t.i] || ' ' || d.toks[t.i + 1] || ' ' || d.toks[t.i + 2] AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 1)) AS i) t),
        |bg4 AS (
        |  SELECT d.doc_id,
        |    d.toks[t.i] || ' ' || d.toks[t.i + 1] || ' ' || d.toks[t.i + 2]
        |      || ' ' || d.toks[t.i + 3] AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 2)) AS i) t),
        |s2 AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS s
        |       FROM (SELECT doc_id, g, count(*) AS c FROM bg2 GROUP BY 1, 2)
        |       GROUP BY doc_id),
        |s3 AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS s
        |       FROM (SELECT doc_id, g, count(*) AS c FROM bg3 GROUP BY 1, 2)
        |       GROUP BY doc_id),
        |s4 AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS s
        |       FROM (SELECT doc_id, g, count(*) AS c FROM bg4 GROUP BY 1, 2)
        |       GROUP BY doc_id)
        |SELECT s2.doc_id, s2.s AS top2_share, s3.s AS top3_share,
        |  s4.s AS top4_share,
        |  (s2.s > 0.2 OR s3.s > 0.18 OR s4.s > 0.16) AS repetitive
        |FROM s2 JOIN s3 USING (doc_id) JOIN s4 USING (doc_id)""".stripMargin,

    // grams CTE (from JaccardCtes) = the same distinct 3-gram sets; only
    // the referenced CTEs execute in DuckDB, so the unused pair CTEs cost
    // nothing.
    "q45_decontaminate" ->
      ("WITH " + JaccardCtes(0.0) + """,
        |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |corpus_g AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |FROM corpus_g JOIN eval_g USING (g)
        |GROUP BY doc_id HAVING count(*) >= 5""".stripMargin),

    // identical exact semantics as q45 — the bloom prune is an I/O/shuffle
    // optimization that provably cannot change the result
    "q166_decontaminate_bloom" ->
      ("WITH " + JaccardCtes(0.0) + """,
        |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |corpus_g AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |FROM corpus_g JOIN eval_g USING (g)
        |GROUP BY doc_id HAVING count(*) >= 5""".stripMargin),

    // raw-id join, tokenized at the end: must equal Spark's token-space join
    "q170_pseudonymize" ->
      """SELECT sha256('graft2026:' || CAST(c_custkey AS VARCHAR)) AS cust_token,
        |  c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |GROUP BY 1, 2""".stripMargin,

    "q171_coordinated_sample" ->
      """WITH kc AS (
        |  SELECT c_custkey FROM customer
        |  WHERE substr(md5('cs:' || CAST(c_custkey AS VARCHAR)), 1, 4) < '1999'),
        |ko AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM kc))
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST((SELECT count(*) FROM kc) AS BIGINT) AS n_cust,
        |  CAST((SELECT count(*) FROM lineitem
        |        WHERE l_orderkey IN (SELECT o_orderkey FROM ko)) AS BIGINT) AS n_items
        |FROM ko""".stripMargin,

    // Full replay of the KMV overlap pipeline: 3-gram shingles, FNV-1a
    // hashes (the q32 HUGEINT recipe), per-source bottom-256 sketches
    // (ORDER BY the UBIGINT hash), the U_k estimator, and the exact
    // distinct-shingle Jaccard — every number matches the engine exactly
    // because nothing in the pipeline is random.
    "q173_kmv_overlap" ->
      """WITH toks AS (
        |  SELECT source, string_split(lower(text), ' ') AS tk FROM documents),
        |shingle AS (
        |  SELECT source, unnest(CASE WHEN len(tk) >= 3
        |      THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in range(1, len(tk) - 1)]
        |      ELSE [list_aggregate(tk, 'string_agg', ' ')] END) AS s
        |  FROM toks),
        |hashed AS (
        |  SELECT DISTINCT source, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |      [CAST(unicode(s[i]) AS UBIGINT) for i in range(1, length(s)+1)]),
        |    (h, c) -> CAST(CAST(xor(h, c) AS HUGEINT) * 1099511628211
        |                   % CAST(18446744073709551616 AS HUGEINT) AS UBIGINT)) AS h
        |  FROM shingle),
        |sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM hashed) WHERE rn <= 256),
        |pairs AS (
        |  SELECT a.source AS grp_a, b.source AS grp_b
        |  FROM (SELECT DISTINCT source FROM documents) a
        |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
        |usk AS (
        |  SELECT p.grp_a, p.grp_b, s.h FROM pairs p
        |  JOIN sk s ON s.source IN (p.grp_a, p.grp_b)
        |  GROUP BY 1, 2, 3),
        |uk AS (
        |  SELECT grp_a, grp_b, h FROM (
        |    SELECT grp_a, grp_b, h,
        |      row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rn
        |    FROM usk) WHERE rn <= 256),
        |m AS (
        |  SELECT u.grp_a, u.grp_b, count(*) AS union_k,
        |    sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
        |             THEN 1 ELSE 0 END) AS match_k
        |  FROM uk u
        |  LEFT JOIN sk sa ON sa.source = u.grp_a AND sa.h = u.h
        |  LEFT JOIN sk sb ON sb.source = u.grp_b AND sb.h = u.h
        |  GROUP BY 1, 2),
        |sizes AS (SELECT source, count(*) AS nd FROM hashed GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS grp_a, b.source AS grp_b, count(*) AS ni
        |  FROM hashed a JOIN hashed b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT m.grp_a, m.grp_b,
        |  CAST(m.union_k AS INT) AS union_k, CAST(m.match_k AS INT) AS match_k,
        |  m.match_k / m.union_k AS est_jaccard,
        |  CAST(coalesce(i.ni, 0) AS BIGINT) AS n_inter,
        |  CAST(sa.nd AS BIGINT) AS n_a, CAST(sb.nd AS BIGINT) AS n_b,
        |  coalesce(i.ni, 0) / (sa.nd + sb.nd - coalesce(i.ni, 0)) AS exact_jaccard
        |FROM m
        |LEFT JOIN inter i ON i.grp_a = m.grp_a AND i.grp_b = m.grp_b
        |JOIN sizes sa ON sa.source = m.grp_a
        |JOIN sizes sb ON sb.source = m.grp_b""".stripMargin,

    // the oracle injects the same decomposed marks (chr(769)=U+0301,
    // chr(770)=U+0302) and grades with DuckDB's independent utf8proc
    // implementations of NFC and accent stripping — string, codepoint
    // count, and round-trip all must agree with the JDK Normalizer path
    "q176_unicode_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    replace(replace(text, 'a', 'a' || chr(769)),
        |            'e', 'e' || chr(770)) AS dec
        |  FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(dec) AS nfc_text,
        |  CAST(length(nfc_normalize(dec)) AS INT) AS nfc_len,
        |  CAST(length(dec) AS INT) AS dec_len,
        |  strip_accents(dec) = text AS roundtrip_ok
        |FROM d""".stripMargin,

    // round-trip fidelity through partitioned ORC: the oracle IS the
    // parquet table restricted to the two read-back partitions
    "q175_orc_source" ->
      """SELECT doc_id, text, lang, n_chars, source FROM documents
        |WHERE source IN ('src1', 'src2')""".stripMargin,

    "q174_k_anonymity" ->
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS group_n,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT)
        |    AS l_distinct,
        |  count(*) >= 15 AS k_anon_ok,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 5 AS l_div_ok
        |FROM customer
        |GROUP BY 1, 2""".stripMargin,

    // round-trip fidelity: the oracle IS the parquet table — any value
    // the json path mangles breaks the hash; the injected corrupt line
    // count is pinned
    "q169_json_source" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  CAST(1 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin,

    // feature arithmetic mirrored term by term (same add order as the
    // Spark fold); Spark log == DuckDB ln
    "q167_quality_model" ->
      ("""SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(-1.6 + log_tokens * 0.35 + sw_ratio * 4.0
        |    + punct_ratio * -8.0 + digit_ratio * -3.0))), 6) AS quality_prob,
        |  (round(1.0 / (1.0 + exp(-(-1.6 + log_tokens * 0.35 + sw_ratio * 4.0
        |    + punct_ratio * -8.0 + digit_ratio * -3.0))), 6) >= 0.5) AS kept
        |FROM (
        |  SELECT doc_id,
        |    round(ln(1.0 + CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS log_tokens,
        |    CASE WHEN len(string_split(text, ' ')) > 0 THEN round(CAST(len(regexp_extract_all(lower(text), '""" + AllStopPat + """')) AS DOUBLE) / len(string_split(text, ' ')), 6) ELSE 0.0 END AS sw_ratio,
        |    CASE WHEN length(text) > 0 THEN round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text), 6) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN length(text) > 0 THEN round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text), 6) ELSE 0.0 END AS digit_ratio
        |  FROM documents)""").stripMargin,

    "q182_trained_quality" -> TrainedQualityOracle(iters = 5, lr = 0.5),

    "q195_calibration_bins" -> CalibrationBinsOracle(iters = 5, lr = 0.5),

    "q275_siegel_trend" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT series,
        |    CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS xi,
        |    v AS yi
        |  FROM daily),
        |sl AS (
        |  SELECT x.series, x.xi, y.xi AS xj,
        |    CAST(floor(CAST(y.yi - x.yi AS DOUBLE)
        |      / CAST(y.xi - x.xi AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS s6
        |  FROM a x JOIN a y ON y.series = x.series AND y.xi <> x.xi),
        |pp AS (
        |  SELECT series, xi,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN s6 END) AS mi6
        |  FROM (SELECT series, xi, s6,
        |      row_number() OVER (PARTITION BY series, xi ORDER BY s6, xj)
        |        AS rk,
        |      count(*) OVER (PARTITION BY series, xi) AS n
        |    FROM sl)
        |  GROUP BY 1, 2),
        |slope AS (
        |  SELECT series,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN mi6 END) AS slope6
        |  FROM (SELECT series, xi, mi6,
        |      row_number() OVER (PARTITION BY series ORDER BY mi6, xi) AS rk,
        |      count(*) OVER (PARTITION BY series) AS n
        |    FROM pp)
        |  GROUP BY 1),
        |res AS (
        |  SELECT a.series, a.xi,
        |    CAST(floor((CAST(yi AS DOUBLE)
        |      - CAST(slope6 AS DOUBLE) / 1000000 * CAST(xi AS DOUBLE))
        |      * 1000000 + 0.5) AS BIGINT) AS b6
        |  FROM a JOIN slope USING (series)),
        |ic AS (
        |  SELECT series,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN b6 END) AS b6m
        |  FROM (SELECT series, xi, b6,
        |      row_number() OVER (PARTITION BY series ORDER BY b6, xi) AS rk,
        |      count(*) OVER (PARTITION BY series) AS n
        |    FROM res)
        |  GROUP BY 1),
        |nd AS (SELECT series, CAST(count(*) AS BIGINT) AS n_days
        |  FROM a GROUP BY 1)
        |SELECT nd.series, nd.n_days, CAST(slope6 AS DOUBLE) / 1000000 AS slope,
        |  CAST(b6m AS DOUBLE) / 1000000 AS intercept
        |FROM nd JOIN slope USING (series) JOIN ic USING (series)""".stripMargin,

    "q276_t_closeness" ->
      """WITH cls AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |cl AS (SELECT c_mktsegment, c_nationkey, CAST(sum(c) AS BIGINT) AS ng
        |  FROM cls GROUP BY 1, 2),
        |co AS (SELECT sv, CAST(sum(c) AS BIGINT) AS cb FROM cls GROUP BY 1),
        |tt AS (SELECT CAST(sum(cb) AS BIGINT) AS nn,
        |  CAST(count(*) AS BIGINT) AS nb FROM co),
        |grid AS (
        |  SELECT cl.c_mktsegment, cl.c_nationkey, cl.ng, co.sv, co.cb,
        |    tt.nn, tt.nb, coalesce(cls.c, 0) AS cc
        |  FROM cl CROSS JOIN co
        |  LEFT JOIN cls ON cls.c_mktsegment = cl.c_mktsegment
        |    AND cls.c_nationkey = cl.c_nationkey AND cls.sv = co.sv
        |  CROSS JOIN tt),
        |cum AS (
        |  SELECT *, abs(sum(cc * nn) OVER w - sum(cb * ng) OVER w) AS cum
        |  FROM grid
        |  WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey ORDER BY sv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (
        |  SELECT c_mktsegment, c_nationkey, ng AS group_n,
        |    CAST(floor(CAST(sum(cum) AS DOUBLE)
        |      / CAST(ng * max(nn) * (max(nb) - 1) AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS e6
        |  FROM cum GROUP BY 1, 2, 3)
        |SELECT c_mktsegment, c_nationkey, group_n,
        |  CAST(e6 AS DOUBLE) / 1000000 AS emd, e6 <= 200000 AS t_ok
        |FROM t""".stripMargin,

    "q277_dp_counts" ->
      """WITH c AS (
        |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |u AS (
        |  SELECT grp, n, (CAST(concat('0x',
        |    substr(md5('graft-r10' || '|' || grp), 1, 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 AS u
        |  FROM c),
        |z AS (
        |  SELECT grp, n, -(1.0 / 1.0)
        |    * CASE WHEN u - 0.5 > 0 THEN 1.0 WHEN u - 0.5 < 0 THEN -1.0
        |        ELSE 0.0 END
        |    * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise_raw
        |  FROM u)
        |SELECT grp, n, floor(noise_raw * 1000000 + 0.5) / 1000000 AS noise,
        |  n + CAST(floor(floor(noise_raw * 1000000 + 0.5) / 1000000 + 0.5)
        |    AS BIGINT) AS noisy_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM z""".stripMargin,

    "q273_weighted_quantiles" ->
      """WITH per AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(sum(l_quantity) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, v, w,
        |    CAST(sum(w) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw,
        |    CAST(sum(w) OVER (PARTITION BY grp) AS BIGINT) AS tw
        |  FROM per)
        |SELECT grp, max(tw) AS total_weight,
        |  min(CASE WHEN cw >= (1 * tw + 3) // 4 THEN v END) AS p1_4,
        |  min(CASE WHEN cw >= (1 * tw + 1) // 2 THEN v END) AS p1_2,
        |  min(CASE WHEN cw >= (3 * tw + 3) // 4 THEN v END) AS p3_4
        |FROM cum GROUP BY grp""".stripMargin,

    "q274_topic_segments" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |wins AS (
        |  SELECT t.doc_id, CAST(ix.widx AS BIGINT) AS widx,
        |    unnest(t.tk[ix.widx * 10 + 1 : ix.widx * 10 + 20]) AS term
        |  FROM toks t, LATERAL (SELECT unnest(range(0,
        |    (len(t.tk) - 20) // 10 + 1)) AS widx) ix
        |  WHERE len(t.tk) >= 20),
        |cnt AS (SELECT doc_id, widx, term, CAST(count(*) AS BIGINT) AS c
        |  FROM wins GROUP BY 1, 2, 3),
        |norms AS (SELECT doc_id, widx, CAST(sum(c * c) AS BIGINT) AS nn
        |  FROM cnt GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.doc_id, a.widx, CAST(sum(a.c * b.c) AS BIGINT) AS num
        |  FROM cnt a JOIN cnt b ON b.doc_id = a.doc_id
        |    AND b.widx = a.widx + 1 AND b.term = a.term
        |  GROUP BY 1, 2),
        |gaps AS (
        |  SELECT n1.doc_id, n1.widx,
        |    CAST(floor(CAST(coalesce(d.num, 0) AS DOUBLE)
        |      / sqrt(CAST(n1.nn * n2.nn AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS cos6
        |  FROM norms n1
        |  JOIN norms n2 ON n2.doc_id = n1.doc_id AND n2.widx = n1.widx + 1
        |  LEFT JOIN dots d ON d.doc_id = n1.doc_id AND d.widx = n1.widx),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(CASE WHEN cos6 < 500000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_boundaries,
        |    CAST(min(cos6) AS DOUBLE) / 1000000 AS min_cos,
        |    CAST(floor(CAST(sum(cos6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      + 0.5) AS DOUBLE) / 1000000 AS mean_cos
        |  FROM gaps GROUP BY 1),
        |nwin AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
        |  FROM norms GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(nwin.n_windows, 0) AS n_windows,
        |  coalesce(p.n_gaps, 0) AS n_gaps,
        |  coalesce(p.n_boundaries, 0) AS n_boundaries,
        |  p.min_cos, p.mean_cos
        |FROM documents d
        |LEFT JOIN nwin ON nwin.doc_id = d.doc_id
        |LEFT JOIN perdoc p ON p.doc_id = d.doc_id""".stripMargin,

    "q271_expectations" ->
      """WITH w AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN coalesce(l_quantity <= 30, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN coalesce(l_discount <= 0.10, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v3,
        |    CAST(sum(CASE WHEN coalesce(l_tax >= 0, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v4,
        |    CAST(sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v5,
        |    CAST(sum(CASE WHEN coalesce(l_extendedprice > 0, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v6
        |  FROM lineitem)
        |SELECT 'qty_in_1_50' AS "check", n AS n_rows, v1 AS n_violations,
        |  v1 = 0 AS pass FROM w
        |UNION ALL SELECT 'qty_le_30', n, v2, v2 = 0 FROM w
        |UNION ALL SELECT 'discount_le_10pct', n, v3, v3 = 0 FROM w
        |UNION ALL SELECT 'tax_nonneg', n, v4, v4 = 0 FROM w
        |UNION ALL SELECT 'flag_domain', n, v5, v5 = 0 FROM w
        |UNION ALL SELECT 'price_positive', n, v6, v6 = 0 FROM w""".stripMargin,

    "q272_cuped" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
        |      THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pu),
        |a AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya
        |  FROM pu GROUP BY 1),
        |t AS (
        |  SELECT a.*, p.*,
        |    CASE WHEN p.n * p.sxx - p.sx * p.sx > 0 THEN
        |      CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
        |        / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
        |    ELSE 0.0 END AS th
        |  FROM a, p)
        |SELECT arm, n_users,
        |  floor(CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0
        |    * 1000000 + 0.5) / 1000000 AS mean_y,
        |  floor((CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)
        |    - th * (CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE)
        |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0
        |    * 1000000 + 0.5) / 1000000 AS mean_y_cuped,
        |  floor(th * 1000000 + 0.5) / 1000000 AS theta,
        |  CASE WHEN n * syy - sy * sy > 0 THEN
        |    floor(th * th * CAST(n * sxx - sx * sx AS DOUBLE)
        |      / CAST(n * syy - sy * sy AS DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS var_reduction
        |FROM t""".stripMargin,

    "q269_bootstrap_ci" ->
      """WITH r0 AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |reps AS (SELECT unnest(range(1, 97)) AS rep),
        |wr AS (
        |  SELECT reps.rep, r0.cents,
        |    CASE WHEN uu.u < '5e2e' THEN 0
        |         WHEN uu.u < 'bc5b' THEN 1
        |         WHEN uu.u < 'eb72' THEN 2
        |         WHEN uu.u < 'fb24' THEN 3
        |         WHEN uu.u < 'ff11' THEN 4
        |         WHEN uu.u < 'ffda' THEN 5
        |         ELSE 6 END AS w
        |  FROM r0 CROSS JOIN reps,
        |    LATERAL (SELECT
        |      substr(md5(CAST((reps.rep - 1) // 8 AS VARCHAR) || '|' || r0.id),
        |        CAST(((reps.rep - 1) % 8) * 4 + 1 AS INTEGER), 4) AS u) uu),
        |pm AS (
        |  SELECT rep, CAST(floor(CAST(sum(w * cents) AS DOUBLE)
        |    / CAST(sum(w) AS DOUBLE) / 100.0 * 1000000 + 0.5) AS BIGINT) AS m6
        |  FROM wr GROUP BY rep HAVING sum(w) > 0),
        |rk AS (
        |  SELECT m6, rep, CAST(row_number() OVER (ORDER BY m6, rep) AS BIGINT)
        |    AS rk, (SELECT CAST(count(*) AS BIGINT) FROM pm) AS nb
        |  FROM pm),
        |ci AS (
        |  SELECT max(nb) AS n_reps,
        |    CAST(min(CASE WHEN rk >= ceil(0.025 * nb) THEN m6 END) AS DOUBLE)
        |      / 1000000 AS lo95,
        |    CAST(min(CASE WHEN rk >= ceil(0.975 * nb) THEN m6 END) AS DOUBLE)
        |      / 1000000 AS hi95
        |  FROM rk),
        |fl AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(floor(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      / 100.0 * 1000000 + 0.5) AS BIGINT) AS mean6
        |  FROM r0)
        |SELECT n_rows, n_reps, CAST(mean6 AS DOUBLE) / 1000000 AS mean,
        |  lo95, hi95
        |FROM ci, fl""".stripMargin,

    "q270_decayed_agg" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(exp(-0.6931471805599453
        |    * CAST(gmax - epoch_us(ts) AS DOUBLE) / 604800000000.0)
        |    * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000
        |    AS decayed_count,
        |  CAST(sum(CAST(floor(exp(-0.6931471805599453
        |    * CAST(gmax - epoch_us(ts) AS DOUBLE) / 604800000000.0)
        |    * 1000000 + 0.5) AS BIGINT)
        |    * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100000000
        |    AS decayed_value
        |FROM events, g GROUP BY event_type""".stripMargin,

    "q266_bpe_train" -> BpeTrainOracle(nMerges = 3),

    "q267_roc_auc" -> RocAucOracle(iters = 5, lr = 0.5),

    "q278_conformal" -> ConformalOracle(iters = 5, lr = 0.5),

    "q279_gains" -> GainsOracle(iters = 5, lr = 0.5),

    "q282_user_survival" -> KmUserOracleSql,

    "q283_nb_langid" ->
      s"""WITH $NbGuessCtes,
         |m AS (SELECT lang_label, lang_guess, CAST(count(*) AS BIGINT) AS n
         |  FROM nbguess GROUP BY 1, 2)
         |SELECT lang_label, lang_guess, n,
         |  round(CAST(n AS DOUBLE)
         |    / sum(n) OVER (PARTITION BY lang_label), 6) AS row_share
         |FROM m""".stripMargin,

    "q281_mann_whitney" ->
      """WITH per AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na_v
        |  FROM documents GROUP BY 1),
        |cb AS (
        |  SELECT *, coalesce(sum(nv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM per),
        |g AS (
        |  SELECT CAST(sum(na_v) AS BIGINT) AS na,
        |    CAST(sum(nv - na_v) AS BIGINT) AS nb,
        |    sum(CAST(na_v AS HUGEINT) * CAST(2 * cb + nv + 1 AS HUGEINT))
        |      AS r2a,
        |    sum(CAST(nv AS HUGEINT) * CAST(nv AS HUGEINT)
        |      * CAST(nv AS HUGEINT) - CAST(nv AS HUGEINT)) AS tt
        |  FROM cb),
        |zc AS (
        |  SELECT na, nb,
        |    CAST(r2a - CAST(na AS HUGEINT) * CAST(na + 1 AS HUGEINT)
        |      AS DOUBLE) AS u2,
        |    CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
        |      * (CAST(na + nb + 1 AS HUGEINT) * CAST(na + nb AS HUGEINT)
        |        * CAST(na + nb - 1 AS HUGEINT) - tt) AS vnum,
        |    CAST(12 AS HUGEINT) * CAST(na + nb AS HUGEINT)
        |      * CAST(na + nb - 1 AS HUGEINT) AS vden
        |  FROM g),
        |zz AS (
        |  SELECT na, nb, u2, vnum,
        |    (u2 - CAST(na * nb AS DOUBLE))
        |      / (2.0 * sqrt(CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE)))
        |      AS z
        |  FROM zc)
        |SELECT na AS n_a, nb AS n_b, u2 / 2.0 AS u,
        |  CASE WHEN na > 0 AND nb > 0 AND vnum > 0 THEN
        |    floor(z * 1000000 + 0.5) / 1000000 END AS z,
        |  CASE WHEN na > 0 AND nb > 0 AND vnum > 0 THEN
        |    floor(2.0 / (1.0 + exp(1.702 * abs(z))) * 1000000 + 0.5)
        |      / 1000000 END AS p
        |FROM zz""".stripMargin,

    "q280_spearman" ->
      """WITH r0 AS (
        |  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS xv,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yv
        |  FROM lineitem),
        |rx AS (
        |  SELECT grp, v AS xv,
        |    2 * coalesce(sum(nv) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nv + 1 AS rx
        |  FROM (SELECT grp, xv AS v, CAST(count(*) AS BIGINT) AS nv
        |        FROM r0 GROUP BY 1, 2)),
        |ry AS (
        |  SELECT grp, v AS yv,
        |    2 * coalesce(sum(nv) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nv + 1 AS ry
        |  FROM (SELECT grp, yv AS v, CAST(count(*) AS BIGINT) AS nv
        |        FROM r0 GROUP BY 1, 2)),
        |j AS (
        |  SELECT r.grp, CAST(rx.rx AS HUGEINT) AS rx,
        |    CAST(ry.ry AS HUGEINT) AS ry
        |  FROM r0 r JOIN rx ON rx.grp = r.grp AND rx.xv = r.xv
        |  JOIN ry ON ry.grp = r.grp AND ry.yv = r.yv),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n, sum(rx) AS sx,
        |    sum(ry) AS sy, sum(rx * ry) AS sxy, sum(rx * rx) AS sxx,
        |    sum(ry * ry) AS syy
        |  FROM j GROUP BY 1)
        |SELECT grp, n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |      AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
        |    floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS rho
        |FROM g""".stripMargin,

    "q311_graph_ann_index" -> GraphAnnIndexOracle,

    // the q311 replay verbatim: the versioned build is the same pure
    // function of the corpus, and the pinned-v1 search must be blind
    // to the later delete — any isolation leak diverges from this SQL
    "q334_graph_ann_versioned" -> GraphAnnIndexOracle,

    "q317_graph_ann_append" -> GraphAnnAppendOracle,

    "q313_unigram_lm" -> UnigramLmOracleSelect(iters = 2, maxPieceLen = 4,
      maxWordLen = 10, seedK = 300, keepK = 200),

    "q316_tokenizer_budget" -> TokenizerBudgetOracle(iters = 2,
      maxPieceLen = 4, maxWordLen = 10, seedK = 300, keepK = 200),

    "q314_weighted_pagerank" ->
      ("""WITH e AS (
        |  SELECT l_partkey % 100 AS src, l_suppkey % 100 AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem WHERE l_partkey % 100 <> l_suppkey % 100
        |  GROUP BY 1, 2),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
        |  FROM e GROUP BY 1),
        |edegw AS (SELECT e.src, e.dst, e.w, o.wsum
        |  FROM e JOIN wsum o ON e.src = o.src),
        |pr0 AS (
        |  SELECT node, (2000000 + nn.n) // (2 * nn.n) AS pr6 FROM nodes, nn),
        |""".stripMargin +
        (0 until 5).map(WPageRankIterCtes).mkString(",\n") + "\n" +
        """SELECT node, CAST(pr6 AS DOUBLE) / 1000000 AS pr FROM pr5""".stripMargin),

    "q315_weighted_lpa" ->
      ("WITH " + JaccardCtes(0.35) + """,
        |wnorm AS (
        |  SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v,
        |    CAST(sum(CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT))
        |      AS BIGINT) AS w
        |  FROM jpairs GROUP BY 1, 2),
        |wsym AS (SELECT u AS s, v AS d, w FROM wnorm
        |  UNION ALL SELECT v, u, w FROM wnorm),
        |wlab0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
        |""".stripMargin +
        (1 to 3).map(WLpaIterCtes).mkString(",\n") + """
        |SELECT l.id AS node, l.lab AS community, s.csize
        |FROM wlab3 l JOIN (
        |  SELECT lab, CAST(count(*) AS BIGINT) AS csize
        |  FROM wlab3 GROUP BY 1) s USING (lab)""".stripMargin),

    // the q315 replay (same CTEs) graded by weighted modularity on
    // HUGEINT — q_num = 4·m·w_in - deg_sum² per community, global Q
    // through the identical IEEE sequence
    "q322_modularity" ->
      ("WITH " + JaccardCtes(0.35) + """,
        |wnorm AS (
        |  SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v,
        |    CAST(sum(CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT))
        |      AS BIGINT) AS w
        |  FROM jpairs GROUP BY 1, 2),
        |wsym AS (SELECT u AS s, v AS d, w FROM wnorm
        |  UNION ALL SELECT v, u, w FROM wnorm),
        |wlab0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
        |""".stripMargin +
        (1 to 3).map(WLpaIterCtes).mkString(",\n") + """,
        |mm AS (SELECT CAST(sum(w) AS HUGEINT) AS m2 FROM wnorm),
        |nd AS (SELECT s AS id, CAST(sum(w) AS HUGEINT) AS k
        |  FROM wsym GROUP BY 1),
        |cdeg AS (
        |  SELECT l.lab, CAST(count(*) AS BIGINT) AS csize,
        |    CAST(sum(coalesce(d.k, 0)) AS HUGEINT) AS deg_sum
        |  FROM wlab3 l LEFT JOIN nd d ON d.id = l.id GROUP BY 1),
        |winc AS (
        |  SELECT la.lab, CAST(sum(e.w) AS HUGEINT) AS w_in
        |  FROM wnorm e
        |  JOIN wlab3 la ON la.id = e.u
        |  JOIN wlab3 lb ON lb.id = e.v AND lb.lab = la.lab
        |  GROUP BY 1),
        |brd AS (
        |  SELECT c.lab, c.csize, coalesce(w.w_in, 0) AS w_in, c.deg_sum,
        |    4 * m.m2 * coalesce(w.w_in, 0) - c.deg_sum * c.deg_sum AS q_num,
        |    m.m2 AS m2
        |  FROM cdeg c LEFT JOIN winc w ON w.lab = c.lab, mm m)
        |SELECT lab AS community, csize, CAST(w_in AS BIGINT) AS w_in,
        |  CAST(deg_sum AS BIGINT) AS deg_sum,
        |  CASE WHEN m2 > 0 THEN
        |    floor(CAST(sum(q_num) OVER () AS DOUBLE)
        |      / CAST(4 * m2 * m2 AS DOUBLE) * 1e6 + 0.5) / 1e6
        |  END AS modularity
        |FROM brd""".stripMargin),

    "q312_char_langid" ->
      s"""WITH $CharNbGuessCtes,
         |m AS (SELECT lang_label, lang_guess, CAST(count(*) AS BIGINT) AS n
         |  FROM cnbguess GROUP BY 1, 2)
         |SELECT lang_label, lang_guess, n,
         |  round(CAST(n AS DOUBLE)
         |    / sum(n) OVER (PARTITION BY lang_label), 6) AS row_share
         |FROM m""".stripMargin,

    "q284_graph_ann" -> GraphAnnOracle(degree = 16, refine = 3,
      beamWidth = 32, rounds = 8),

    "q287_hits" -> HitsOracle(iters = 3),

    "q289_rake_keywords" -> RakeOracle(maxPhraseLen = 4, topK = 25),

    "q290_benford" -> BenfordOracle,

    "q294_langid_kappa" ->
      s"""WITH $HeurGuessCte,
         |$NbGuessCtes,
         |j AS (SELECT hg.lang_guess AS g1, nb.lang_guess AS g2
         |      FROM hg JOIN nbguess nb USING (doc_id)),
         |cells AS (SELECT g1, g2, CAST(count(*) AS BIGINT) AS n
         |  FROM j GROUP BY 1, 2),
         |rm AS (SELECT g1 AS k, CAST(sum(n) AS BIGINT) AS r
         |  FROM cells GROUP BY 1),
         |cm AS (SELECT g2 AS k, CAST(sum(n) AS BIGINT) AS c
         |  FROM cells GROUP BY 1),
         |ch AS (SELECT coalesce(sum(CAST(rm.r AS HUGEINT) * cm.c), 0) AS s
         |  FROM rm JOIN cm USING (k)),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN g1 = g2 THEN n ELSE 0 END) AS BIGINT)
         |    AS agree_n
         |  FROM cells)
         |SELECT cells.g1, cells.g2, cells.n, tt.n_total, tt.agree_n,
         |  CASE WHEN CAST(tt.n_total AS HUGEINT) * tt.n_total - ch.s = 0
         |    THEN NULL
         |    ELSE round(
         |      CAST(CAST(tt.n_total AS HUGEINT) * tt.agree_n - ch.s AS DOUBLE)
         |      / CAST(CAST(tt.n_total AS HUGEINT) * tt.n_total - ch.s
         |        AS DOUBLE), 6) END AS kappa
         |FROM cells, tt, ch""".stripMargin,

    "q295_ndcg" -> NdcgOracle(NdcgQueries, k = 10),

    "q296_rollup_profile" ->
      """SELECT coalesce(source, '__all__') AS source,
        |  coalesce(lang, '__all__') AS lang,
        |  CAST(CASE WHEN source IS NULL THEN 2 ELSE 0 END
        |    + CASE WHEN lang IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,

    "q297_centroid_cosine" ->
      """WITH el AS (
        |  SELECT label, i.i AS d,
        |    CAST(floor(CAST(arr[i.i] AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS x6
        |  FROM (SELECT label, embedding AS arr FROM embeddings) e,
        |    LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) i),
        |ls AS (SELECT label, d, CAST(sum(x6) AS BIGINT) AS s
        |  FROM el GROUP BY 1, 2),
        |gs AS (SELECT d, CAST(sum(s) AS BIGINT) AS g FROM ls GROUP BY 1),
        |gn AS (SELECT sum(CAST(g AS HUGEINT) * g) AS nb FROM gs),
        |nf AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM embeddings GROUP BY 1),
        |pa AS (SELECT ls.label, sum(CAST(ls.s AS HUGEINT) * gs.g) AS dot,
        |    sum(CAST(ls.s AS HUGEINT) * ls.s) AS na
        |  FROM ls JOIN gs USING (d) GROUP BY 1)
        |SELECT pa.label, nf.n_vecs,
        |  floor(CAST(pa.dot AS DOUBLE)
        |    / (sqrt(CAST(pa.na AS DOUBLE)) * sqrt(CAST(gn.nb AS DOUBLE)))
        |    * 1000000 + 0.5) / 1000000 AS cos_to_corpus,
        |  floor(sqrt(CAST(pa.na AS DOUBLE)) / nf.n_vecs + 0.5) / 1000000
        |    AS centroid_norm
        |FROM pa CROSS JOIN gn JOIN nf ON nf.label = pa.label""".stripMargin,

    "q298_markov" -> MarkovOracle(iters = 6),

    "q302_dbscan" -> DbscanOracle(planes = 3, tau = "0.3", minPts = 4),

    "q309_prf_expand" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM documents,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q0 AS (SELECT unnest(['spark', 'stream']) AS term),
        |s1 AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))), 4)
        |      AS score
        |  FROM tf JOIN q0 USING (term) JOIN dfq USING (term)
        |  JOIN dlen USING (doc_id) CROSS JOIN stats GROUP BY 1),
        |fb AS (SELECT doc_id FROM s1 ORDER BY score DESC, doc_id ASC
        |  LIMIT 5),
        |ex AS (
        |  SELECT tf.term,
        |    round(sum(tf.tf)
        |      * ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)), 4) AS w
        |  FROM tf JOIN fb USING (doc_id)
        |  JOIN dfq ON dfq.term = tf.term CROSS JOIN stats
        |  WHERE tf.term NOT IN (SELECT term FROM q0)
        |  GROUP BY tf.term, dfq.df, stats.n
        |  ORDER BY w DESC, tf.term ASC LIMIT 3),
        |q1 AS (SELECT term FROM q0 UNION ALL SELECT term FROM ex),
        |s2 AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))), 4)
        |      AS score
        |  FROM tf JOIN q1 USING (term) JOIN dfq USING (term)
        |  JOIN dlen USING (doc_id) CROSS JOIN stats GROUP BY 1),
        |el AS (SELECT string_agg(term, '|' ORDER BY term) AS expanded
        |  FROM ex),
        |topk AS (SELECT doc_id, score FROM s2
        |  ORDER BY score DESC, doc_id ASC LIMIT 10)
        |SELECT t.doc_id, t.score,
        |  CAST(row_number() OVER (ORDER BY t.score DESC, t.doc_id ASC)
        |    AS BIGINT) AS rank,
        |  el.expanded
        |FROM topk t, el""".stripMargin,

    "q308_logrank" ->
      """WITH sp AS (
        |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_day,
        |    max(CAST(o_orderdate AS DATE)) AS last_day
        |  FROM orders GROUP BY 1),
        |e AS (SELECT max(CAST(o_orderdate AS DATE)) AS obs_end FROM orders),
        |lt AS (
        |  SELECT sp.o_custkey,
        |    CAST(date_diff('day', first_day, last_day) AS BIGINT) AS dur,
        |    (date_diff('day', last_day, e.obs_end) >= 90) AS obs
        |  FROM sp, e),
        |lg AS (
        |  SELECT lt.dur, lt.obs, (c.c_mktsegment = 'BUILDING') AS grp
        |  FROM lt JOIN customer c ON c.c_custkey = lt.o_custkey),
        |perT AS (
        |  SELECT dur AS t,
        |    CAST(sum(CASE WHEN obs AND grp THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN obs AND NOT grp THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS l1,
        |    CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS l2
        |  FROM lg GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt1,
        |    CAST(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS nt2
        |  FROM lg),
        |grid AS (
        |  SELECT t, d1, d2,
        |    nt1 - coalesce(sum(l1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        |    nt2 - coalesce(sum(l2) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
        |  FROM perT, tot),
        |g2 AS (
        |  SELECT *, d1 + d2 AS d, n1 + n2 AS n FROM grid
        |  WHERE d1 + d2 > 0 AND n1 + n2 > 1),
        |g3 AS (
        |  SELECT d1,
        |    CAST(floor(CAST(d AS DOUBLE)
        |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000000 + 0.5) AS BIGINT) AS e9,
        |    CAST(floor(CAST(d AS DOUBLE)
        |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |      * 1000000000 + 0.5) AS BIGINT) AS v9
        |  FROM g2),
        |s AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |  CAST(sum(e9) AS BIGINT) AS e9,
        |  CAST(sum(v9) AS BIGINT) AS v9 FROM g3)
        |SELECT tot.nt1 AS n_group1, tot.nt2 AS n_group2,
        |  s.o1 AS observed1,
        |  CAST(s.e9 AS DOUBLE) / 1000000000 AS expected1,
        |  CASE WHEN s.v9 = 0 THEN NULL
        |    ELSE round((CAST(s.o1 AS DOUBLE) * 1000000000
        |        - CAST(s.e9 AS DOUBLE))
        |      * (CAST(s.o1 AS DOUBLE) * 1000000000 - CAST(s.e9 AS DOUBLE))
        |      / (1000000000 * CAST(s.v9 AS DOUBLE)), 6) END AS chi2
        |FROM s, tot""".stripMargin,

    "q306_shingle_generator" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS arr
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, arr[i.i] || ' ' || arr[i.i + 1] AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(arr))) AS i) i
        |  WHERE len(arr) >= 2
        |  UNION ALL
        |  SELECT doc_id, array_to_string(arr, ' ') FROM toks
        |  WHERE len(arr) < 2)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM g GROUP BY 1 ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin,

    "q305_topk_rewrite" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  CAST(rn AS BIGINT) AS rn
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey ASC,
        |        l_linenumber ASC) AS rn
        |  FROM lineitem)
        |WHERE rn <= 2""".stripMargin,

    "q304_topk_per_key" ->
      """WITH rev AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |      + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY revenue_cents DESC, l_partkey ASC) AS rn FROM rev)
        |SELECT l_suppkey, l_partkey, revenue_cents FROM r WHERE rn <= 3""".stripMargin,

    "q303_frequent_sequences" ->
      """WITH g AS (
        |  SELECT user_id AS u,
        |    event_type || '>' || lead(event_type, 1) OVER w || '>'
        |      || lead(event_type, 2) OVER w AS pattern,
        |    event_type AS e0, lead(event_type, 1) OVER w AS e1,
        |    lead(event_type, 2) OVER w AS e2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT pattern, u, count(*) AS c FROM g
        |  WHERE e0 IS NOT NULL AND e1 IS NOT NULL AND e2 IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT pattern, CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1
        |ORDER BY 2 DESC, 1 ASC LIMIT 25""".stripMargin,

    // the diff IS derivable from raw orders: removed = the deleted
    // urgent rows, added = the +1-cent appended slab
    "q301_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority AS priority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(year(o_orderdate) AS BIGINT) AS anio
        |  FROM orders)
        |SELECT anio, 'removed' AS change, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM base WHERE priority = '1-URGENT' GROUP BY 1
        |UNION ALL
        |SELECT anio, 'added' AS change, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents + 1) AS BIGINT) AS cents
        |FROM base WHERE priority = '5-LOW' GROUP BY 1""".stripMargin,

    "q300_burst" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS series,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |stt AS (SELECT series, CAST(count(*) AS BIGINT) AS t_days,
        |  CAST(sum(v) AS BIGINT) AS tot FROM daily GROUP BY 1),
        |par AS (SELECT series,
        |  CAST(floor(mu * 1000000000 + 0.5) AS BIGINT) AS a9,
        |  CAST(floor(ln(mu) * 1000000000 + 0.5) AS BIGINT) AS b9,
        |  CAST(floor(mu * 3.0 * 1000000000 + 0.5) AS BIGINT) AS a19,
        |  CAST(floor(ln(mu * 3.0) * 1000000000 + 0.5) AS BIGINT) AS b19
        |  FROM (SELECT series, CAST(tot AS DOUBLE) / t_days AS mu
        |        FROM stt)),
        |e AS (SELECT d.series,
        |  row_number() OVER (PARTITION BY d.series ORDER BY d.day) AS i,
        |  d.day, d.v, p.a9 - d.v * p.b9 AS e0, p.a19 - d.v * p.b19 AS e1
        |  FROM daily d JOIN par p ON p.series = d.series),
        |mx AS (SELECT series, CAST(max(i) AS BIGINT) AS n
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT series, i, e0 AS d0, 1000000000 + e1 AS d1
        |  FROM e WHERE i = 1
        |  UNION ALL
        |  SELECT e.series, e.i, least(f.d0, f.d1) + e.e0,
        |    least(f.d0 + 1000000000, f.d1) + e.e1
        |  FROM f JOIN e ON e.series = f.series AND e.i = f.i + 1),
        |b AS (
        |  SELECT f.series, f.i,
        |    CASE WHEN f.d1 < f.d0 THEN 1 ELSE 0 END AS s
        |  FROM f JOIN mx ON mx.series = f.series AND f.i = mx.n
        |  UNION ALL
        |  SELECT f.series, f.i,
        |    CASE WHEN b.s = 1 THEN
        |      CASE WHEN f.d1 <= f.d0 + 1000000000 THEN 1 ELSE 0 END
        |    ELSE CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END END
        |  FROM b JOIN f ON f.series = b.series AND f.i = b.i - 1)
        |SELECT e.series, e.day, e.v, b.s = 1 AS burst
        |FROM e JOIN b ON b.series = e.series AND b.i = e.i""".stripMargin,

    "q299_label_suspects" ->
      s"""WITH $NbScoreCtes,
         |best AS (
         |  SELECT doc_id, lang_label, cand AS best_guess, s9 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY s9 DESC, cand ASC) AS rn FROM sc) WHERE rn = 1),
         |lbl AS (SELECT doc_id, s9 AS s9l FROM sc WHERE cand = lang_label)
         |SELECT b.doc_id, b.lang_label, b.best_guess,
         |  CAST(b.s9 - l.s9l AS DOUBLE) / 1000000000 AS margin
         |FROM best b JOIN lbl l USING (doc_id)
         |WHERE b.best_guess <> b.lang_label
         |ORDER BY b.s9 - l.s9l DESC, b.doc_id ASC LIMIT 50""".stripMargin,

    "q292_ppmi" ->
      """WITH toks0 AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, i.i AS pos, arr[i.i] AS w
        |  FROM toks0, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) i
        |  WHERE arr[i.i] <> ''),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
        |pairs AS (
        |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id
        |    AND b.pos > a.pos AND b.pos <= a.pos + 2),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
        |sc AS (
        |  SELECT c12.w1, c12.w2, c12.c12, u1.c AS c1, u2.c AS c2,
        |    CAST(floor(ln(
        |      CAST(CAST(c12.c12 AS HUGEINT) * nt.n * nt.n AS DOUBLE)
        |      / CAST(CAST(np.np AS HUGEINT) * u1.c * u2.c AS DOUBLE))
        |      * 1000000000 + 0.5) AS BIGINT) AS p9
        |  FROM c12
        |  JOIN uni u1 ON u1.w = c12.w1
        |  JOIN uni u2 ON u2.w = c12.w2
        |  CROSS JOIN nt CROSS JOIN np)
        |SELECT w1, w2, c12, c1, c2, CAST(p9 AS DOUBLE) / 1000000000 AS ppmi
        |FROM sc WHERE p9 > 0
        |ORDER BY p9 DESC, w1, w2 LIMIT 30""".stripMargin,

    "q293_lorenz_gini" ->
      """WITH grid AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS n_eq,
        |    CAST(n_chars AS BIGINT) * CAST(count(*) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT v, n_eq, mass,
        |    coalesce(sum(n_eq) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cdb,
        |    coalesce(sum(mass) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cvb
        |  FROM grid),
        |tot AS (SELECT CAST(sum(n_eq) AS BIGINT) AS nt,
        |  CAST(sum(mass) AS BIGINT) AS st FROM grid),
        |gn AS (
        |  SELECT floor(
        |    CAST(2 * sum(CAST(v AS HUGEINT) * (CAST(n_eq AS HUGEINT) * cdb
        |        + n_eq * (n_eq + 1) // 2))
        |      - CAST(t.nt + 1 AS HUGEINT) * t.st AS DOUBLE)
        |    / CAST(CAST(t.nt AS HUGEINT) * t.st AS DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS gini
        |  FROM cum, tot t GROUP BY t.nt, t.st),
        |dec AS (
        |  SELECT d.decile, (d.decile * t.nt) // 10 AS m_k, t.nt, t.st
        |  FROM (SELECT unnest(range(1, 10)) AS decile) d, tot t)
        |SELECT CAST(dec.decile AS BIGINT) AS decile,
        |  CAST(dec.m_k AS BIGINT) AS n_docs,
        |  CAST((CAST(dec.m_k AS HUGEINT) * 1000000) // dec.nt AS DOUBLE)
        |    / 1000000 AS cum_doc_share,
        |  CAST((CAST(c.cvb + (dec.m_k - c.cdb) * c.v AS HUGEINT) * 1000000)
        |    // dec.st AS DOUBLE) / 1000000 AS cum_mass_share,
        |  gn.gini
        |FROM dec
        |JOIN cum c ON c.cdb < dec.m_k AND dec.m_k <= c.cdb + c.n_eq
        |CROSS JOIN gn
        |WHERE dec.m_k >= 1""".stripMargin,

    "q291_pettitt" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT series, CAST(count(*) AS BIGINT) AS t_days
        |  FROM daily GROUP BY 1),
        |grid AS (SELECT series, v, CAST(count(*) AS BIGINT) AS n_eq
        |  FROM daily GROUP BY 1, 2),
        |wb AS (
        |  SELECT series, v, n_eq,
        |    coalesce(sum(n_eq) OVER (PARTITION BY series ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM grid),
        |u0 AS (
        |  SELECT d.series, d.day, t.t_days,
        |    wb.cb - (t.t_days - wb.cb - wb.n_eq) AS vi
        |  FROM daily d
        |  JOIN wb ON wb.series = d.series AND wb.v = d.v
        |  JOIN t ON t.series = d.series),
        |u1 AS (
        |  SELECT series, day, t_days,
        |    sum(vi) OVER (PARTITION BY series ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u,
        |    max(day) OVER (PARTITION BY series) AS mxday
        |  FROM u0),
        |u2 AS (
        |  SELECT series, day, t_days, u,
        |    max(abs(u)) OVER (PARTITION BY series) AS k
        |  FROM u1 WHERE day < mxday)
        |SELECT series, t_days, CAST(max(k) AS BIGINT) AS k,
        |  min(CASE WHEN abs(u) = k THEN day END) AS change_day,
        |  floor(2.0 * exp(-6.0 * CAST(max(k) * max(k) AS DOUBLE)
        |    / CAST(t_days * t_days * t_days + t_days * t_days AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS p
        |FROM u2 GROUP BY series, t_days""".stripMargin,

    "q288_winnow_overlap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i.i AS pos, substr(t, i.i, 16) AS gr
        |  FROM d, LATERAL (SELECT unnest(range(1, len(t) - 14)) AS i) i
        |  WHERE len(t) >= 16
        |  UNION ALL
        |  SELECT doc_id, 1, t FROM d WHERE len(t) < 16),
        |h AS (
        |  SELECT doc_id, pos,
        |    CAST(concat('0x', substr(md5(gr), 1, 8)) AS BIGINT) AS hh,
        |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS m
        |  FROM g),
        |wm AS (
        |  SELECT doc_id, pos, m, min(hh) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wm
        |  WHERE pos <= greatest(m - 7, 1)),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        |  FROM fps GROUP BY 1),
        |keepfp AS (SELECT fp FROM
        |  (SELECT fp, count(*) AS df FROM fps GROUP BY 1) WHERE df <= 10),
        |rare AS (SELECT f.doc_id, f.fp FROM fps f JOIN keepfp USING (fp)),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM rare a JOIN rare b ON b.fp = a.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT pr.id_a, pr.id_b, pr.n_shared, pa.n_fp AS n_a,
        |  pb.n_fp AS n_b,
        |  floor(CAST(pr.n_shared AS DOUBLE)
        |    / CAST(least(pa.n_fp, pb.n_fp) AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS containment
        |FROM pr
        |JOIN pd pa ON pa.doc_id = pr.id_a
        |JOIN pd pb ON pb.doc_id = pr.id_b
        |WHERE pr.n_shared >= 3""".stripMargin,

    "q286_ecod" ->
      """WITH o AS (
        |  SELECT o_orderkey AS id,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vp,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS vd
        |  FROM orders),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |gp AS (SELECT vp AS v, CAST(count(*) AS BIGINT) AS nv
        |  FROM o GROUP BY 1),
        |cp AS (SELECT v, nv, sum(nv) OVER (ORDER BY v
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle FROM gp),
        |gd AS (SELECT vd AS v, CAST(count(*) AS BIGINT) AS nv
        |  FROM o GROUP BY 1),
        |cd AS (SELECT v, nv, sum(nv) OVER (ORDER BY v
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle FROM gd),
        |sc AS (
        |  SELECT o.id,
        |    CAST(floor(ln(CAST(nn.n AS DOUBLE)
        |        / CAST(least(cp.cle, nn.n - cp.cle + cp.nv) AS DOUBLE))
        |      * 1000000000 + 0.5) AS BIGINT)
        |    + CAST(floor(ln(CAST(nn.n AS DOUBLE)
        |        / CAST(least(cd.cle, nn.n - cd.cle + cd.nv) AS DOUBLE))
        |      * 1000000000 + 0.5) AS BIGINT) AS s9
        |  FROM o CROSS JOIN nn
        |  JOIN cp ON cp.v = o.vp
        |  JOIN cd ON cd.v = o.vd)
        |SELECT id AS o_orderkey, CAST(s9 AS DOUBLE) / 1000000000 AS ecod
        |FROM sc ORDER BY s9 DESC, id LIMIT 100""".stripMargin,

    "q285_compressibility" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT d.doc_id, array_to_string(d.toks[t.i:t.i+1], ' ') AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks))) AS i) t
        |  WHERE len(d.toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, array_to_string(toks, ' ') FROM docs
        |  WHERE len(toks) < 2),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
        |  FROM grams GROUP BY 1)
        |SELECT doc_id, n_windows, n_distinct,
        |  floor(CAST(n_windows - n_distinct AS DOUBLE) / n_windows
        |    * 1000000 + 0.5) / 1000000 AS repeat_mass,
        |  (floor(CAST(n_windows - n_distinct AS DOUBLE) / n_windows
        |    * 1000000 + 0.5) / 1000000 <= 0.1) AS keep
        |FROM per""".stripMargin,

    "q268_lsh_plan" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |g AS (
        |  SELECT n_docs, CAST(rr.r AS BIGINT) AS r,
        |    CAST(64 // rr.r AS BIGINT) AS b
        |  FROM n, (SELECT unnest(range(1, 65)) AS r) rr),
        |p AS (
        |  SELECT n_docs, b, r,
        |    floor((1.0 - power(1.0 - power(0.25, CAST(r AS DOUBLE)),
        |      CAST(b AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS p_lo,
        |    floor((1.0 - power(1.0 - power(0.35, CAST(r AS DOUBLE)),
        |      CAST(b AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS p_at,
        |    floor((1.0 - power(1.0 - power(0.45, CAST(r AS DOUBLE)),
        |      CAST(b AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS p_hi
        |  FROM g WHERE b >= 1),
        |s AS (SELECT *, floor((p_hi - p_lo) * 1000000 + 0.5) / 1000000
        |  AS separation FROM p)
        |SELECT n_docs, b, r, p_lo, p_at, p_hi, separation,
        |  row_number() OVER (ORDER BY separation DESC, b DESC) = 1 AS chosen
        |FROM s""".stripMargin,

    // rebuilds the identical CMS grid relationally — cell (j,b) = count
    // of rows whose j-th md5-slice hashes there — and takes the same min
    // over each probed key's cells
    "q183_cms_counts" ->
      """WITH js AS (SELECT unnest(range(0, 4)) AS j),
        |cells AS (
        |  SELECT js.j,
        |    CAST(concat('0x', substr(md5(CAST(l_suppkey AS VARCHAR)),
        |      1 + 8 * js.j, 8)) AS BIGINT) % 64 AS b,
        |    count(*) AS c
        |  FROM lineitem CROSS JOIN js GROUP BY 1, 2),
        |keys AS (
        |  SELECT l_suppkey, count(*) AS exact_cnt FROM lineitem GROUP BY 1),
        |probes AS (
        |  SELECT k.l_suppkey, k.exact_cnt, js.j,
        |    CAST(concat('0x', substr(md5(CAST(k.l_suppkey AS VARCHAR)),
        |      1 + 8 * js.j, 8)) AS BIGINT) % 64 AS b
        |  FROM keys k CROSS JOIN js),
        |est AS (
        |  SELECT p.l_suppkey, p.exact_cnt, min(c.c) AS est_cnt
        |  FROM probes p JOIN cells c ON c.j = p.j AND c.b = p.b
        |  GROUP BY 1, 2)
        |SELECT l_suppkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |  CAST(est_cnt AS BIGINT) AS est_cnt,
        |  CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
        |FROM est ORDER BY exact_cnt DESC, l_suppkey LIMIT 20""".stripMargin,

    // the interpolated-KN bigram model refit relationally: bigram counts,
    // forward/backward continuation type counts, total types, then the
    // same fixed IEEE sequence (c-D)/c1 + (D*n1f/c1)*(n1b/T) per
    // occurrence and the house grid-sum mean
    "q184_kn_bigram_lm" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS tk
        |  FROM documents),
        |occ AS (
        |  SELECT d.doc_id, d.tk[t.i] AS w1, d.tk[t.i + 1] AS w2
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk))) AS i) t
        |  WHERE len(d.tk) >= 2),
        |bi AS (SELECT w1, w2, count(*) AS c FROM occ GROUP BY 1, 2),
        |fwd AS (SELECT w1, sum(c) AS c1, count(*) AS n1f FROM bi GROUP BY 1),
        |bwd AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
        |tt AS (SELECT count(*) AS t FROM bi),
        |model AS (
        |  SELECT b.w1, b.w2,
        |    round(ln((b.c - 0.75) / f.c1 + (0.75 * f.n1f / f.c1)
        |      * (w.n1b / tt.t)), 6) AS lp
        |  FROM bi b JOIN fwd f ON f.w1 = b.w1
        |  JOIN bwd w ON w.w2 = b.w2, tt),
        |scored AS (
        |  SELECT o.doc_id, m.lp FROM occ o
        |  JOIN model m ON m.w1 = o.w1 AND m.w2 = o.w2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  floor(round(sum(lp), 6) / count(*) * 1e6 + 0.5) / 1e6 AS mean_logp
        |FROM scored GROUP BY doc_id""".stripMargin,

    // both hashed-unigram multinomials refit relationally (Laplace
    // smoothing over 256 md5-prefix buckets), the same per-bucket
    // log-ratio on the 6dp grid, grid-summed per document, same top-100
    "q185_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |b AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 256 AS bk
        |  FROM toks),
        |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |ct AS (SELECT bk, count(*) AS c FROM b JOIN tgt USING (doc_id) GROUP BY 1),
        |cr AS (SELECT bk, count(*) AS c FROM b GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c) FROM ct) AS tt,
        |               (SELECT sum(c) FROM cr) AS tr),
        |lr AS (
        |  SELECT cr.bk,
        |    round(ln(((coalesce(ct.c, 0) + 1.0) / (tt + 256))
        |      / ((cr.c + 1.0) / (tr + 256))), 6) AS lr
        |  FROM cr LEFT JOIN ct ON ct.bk = cr.bk, tot),
        |w AS (
        |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    round(sum(l.lr), 6) AS weight
        |  FROM b JOIN lr l ON l.bk = b.bk GROUP BY 1)
        |SELECT doc_id, n_tokens, weight FROM w
        |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,

    // first-failing-stage attribution replayed relationally; the
    // repetition statistic counts gram STRINGS where Spark's one-pass
    // expression counts 64-bit hashes (q47/q96 collision caveat); every
    // document here has >= 10 tokens so the short-text fallback never
    // fires in either engine
    "q186_curation_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, coalesce(text, '') AS text, lang, source,
        |    len(string_split(coalesce(text, ''), ' ')) AS nt,
        |    md5(coalesce(text, '')) AS h
        |  FROM documents),
        |firsts AS (SELECT h, min(doc_id) AS first_id FROM base GROUP BY 1),
        |docs AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM base),
        |grams AS (
        |  SELECT d.doc_id, d.tk[t.i] || ' ' || d.tk[t.i + 1] AS g
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk))) AS i) t),
        |rep AS (
        |  SELECT doc_id, max(c) AS mx, sum(c) AS ng FROM (
        |    SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
        |  GROUP BY 1),
        |staged AS (
        |  SELECT b.source, b.nt,
        |    CASE WHEN b.doc_id <> f.first_id THEN 'dup'
        |         WHEN b.lang IS DISTINCT FROM 'en' THEN 'lang'
        |         WHEN b.nt < 40 THEN 'short'
        |         WHEN floor(CAST(r.mx AS DOUBLE) / r.ng * 1e6 + 0.5) / 1e6
        |              > 0.08 THEN 'repetitive'
        |         ELSE 'kept' END AS stage
        |  FROM base b JOIN firsts f ON f.h = b.h
        |  JOIN rep r ON r.doc_id = b.doc_id)
        |SELECT source, stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  floor(CAST(count(*) AS DOUBLE)
        |    / sum(count(*)) OVER (PARTITION BY source) * 1e6 + 0.5) / 1e6
        |    AS share
        |FROM staged GROUP BY source, stage""".stripMargin,

    // the decomposition replayed with the same exact-integer cents
    // arithmetic: long MA sums, d7 = 7v - s7 detrended, one division
    // per mean, house 6dp grid combines
    "q189_seasonal_decompose" -> SeasonalDecomposeOracle,

    // decomposition nested as a CTE, then the q187 lower-value rank
    // convention for the residual median and MAD, strict > flagging
    "q198_seasonal_anomalies" ->
      s"""WITH dec AS (
        |${SeasonalDecomposeOracle.linesIterator.map("  " + _).mkString("\n")}
        |),
        |r AS (SELECT event_type AS key, d, residual FROM dec),
        |m1 AS (
        |  SELECT key, min(CASE WHEN rk >= ceil(0.5 * n) THEN residual END) AS med
        |  FROM (SELECT key, d, residual,
        |          row_number() OVER (PARTITION BY key ORDER BY residual, d) AS rk,
        |          count(*) OVER (PARTITION BY key) AS n FROM r)
        |  GROUP BY key),
        |wd AS (SELECT r.key, r.d, m1.med,
        |         round(abs(r.residual - m1.med), 6) AS adev
        |       FROM r JOIN m1 ON m1.key = r.key),
        |m2 AS (
        |  SELECT key, min(CASE WHEN rk >= ceil(0.5 * n) THEN adev END) AS mad
        |  FROM (SELECT key, d, adev,
        |          row_number() OVER (PARTITION BY key ORDER BY adev, d) AS rk,
        |          count(*) OVER (PARTITION BY key) AS n FROM wd)
        |  GROUP BY key)
        |SELECT wd.key AS event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  min(wd.med) AS med, min(m2.mad) AS mad,
        |  CAST(sum(CASE WHEN wd.adev > 5.0 * m2.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies
        |FROM wd JOIN m2 ON m2.key = wd.key
        |GROUP BY wd.key""".stripMargin,

    // q45's seeds + q31's exact-jaccard edges (recall-1.0 LSH parity,
    // the q31 guarantee) + q177's recursive-CTE min-dist walk
    "q197_contamination_radius" ->
      ("WITH RECURSIVE " + JaccardCtes(0.35) + """,
        |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |corpus_g AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0),
        |seeds AS (
        |  SELECT doc_id FROM corpus_g JOIN eval_g USING (g)
        |  GROUP BY doc_id HAVING count(*) >= 5),
        |edges AS (
        |  SELECT id_a, id_b FROM jpairs
        |  WHERE id_a % 20 <> 0 AND id_b % 20 <> 0),
        |sym AS (SELECT id_a AS s, id_b AS d FROM edges
        |        UNION ALL SELECT id_b, id_a FROM edges),
        |walk(id, dist) AS (
        |  SELECT doc_id, 0 FROM seeds
        |  UNION
        |  SELECT sym.d, walk.dist + 1 FROM walk
        |  JOIN sym ON sym.s = walk.id WHERE walk.dist < 2),
        |m AS (SELECT id, min(dist) AS dist FROM walk GROUP BY id)
        |SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(id) AS BIGINT) AS sum_doc_id
        |FROM m GROUP BY 1""".stripMargin),

    // per-doc-distinct 10-token grams (ShingleExpr semantics, q96's
    // shape), novelty = grams whose min owner is the doc itself
    "q196_span_novelty" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT d.doc_id, array_to_string(d.toks[t.i:t.i+9], ' ') AS g
        |    FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 8)) AS i) t
        |    WHERE len(d.toks) >= 10
        |    UNION ALL
        |    SELECT doc_id, array_to_string(toks, ' ') FROM docs
        |    WHERE len(toks) < 10)),
        |own AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1)
        |SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN o.first_doc = gr.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  floor(CAST(sum(CASE WHEN o.first_doc = gr.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS novelty
        |FROM grams gr JOIN own o ON o.g = gr.g
        |GROUP BY gr.doc_id""".stripMargin,

    // samples recomputed from the synthesis formula (q63's shape),
    // squared and summed exactly per 160-sample window
    "q193_audio_envelope" ->
      """WITH params AS (
        |  SELECT doc_id, 800 + (doc_id % 10) * 160 AS n,
        |    3 + (doc_id % 8) AS f
        |  FROM documents),
        |s AS (
        |  SELECT p.doc_id, t.i // 160 AS win,
        |    ((t.i * p.f * 997) % 16000) * 4 - 32000 AS v
        |  FROM params p, LATERAL (SELECT unnest(range(0, p.n)) AS i) t)
        |SELECT doc_id AS media_id, CAST(win AS INT) AS win,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy
        |FROM s GROUP BY doc_id, win""".stripMargin,

    // same grid-rounded OLS over (ln rank, ln freq) of the per-language
    // top-100 terms
    "q194_zipf_slope" ->
      """WITH toks AS (
        |  SELECT lang, t AS term FROM (
        |    SELECT lang,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |cnt AS (SELECT lang, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, cnt,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, term) AS rank
        |  FROM cnt QUALIFY rank <= 100),
        |g AS (
        |  SELECT lang,
        |    round(ln(rank), 6) AS x, round(ln(cnt), 6) AS y,
        |    round(round(ln(rank), 6) * round(ln(cnt), 6), 6) AS xy,
        |    round(round(ln(rank), 6) * round(ln(rank), 6), 6) AS xx
        |  FROM ranked),
        |a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
        |    round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
        |    round(sum(xy), 6) AS sxy, round(sum(xx), 6) AS sxx
        |  FROM g GROUP BY lang)
        |SELECT lang, n_terms,
        |  floor((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)
        |    * 1e6 + 0.5) / 1e6 AS slope
        |FROM a WHERE n_terms >= 10""".stripMargin,

    // pixels recomputed from the synthesis formula (q140's shape) for
    // BOTH pair members, squared gray deltas summed exactly
    "q192_image_psnr" ->
      """WITH params AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
        |    doc_id % 251 AS seed
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, a.w, a.h,
        |    a.seed AS sa, b.seed AS sb
        |  FROM params a
        |  JOIN params b ON b.doc_id = a.doc_id + 63
        |    AND b.w = a.w AND b.h = a.h),
        |px AS (
        |  SELECT p.ida, p.idb, p.w, p.h,
        |    ((xs.x * 7 + ys.y * 13 + p.sa) % 256
        |     + (xs.x * 11 + ys.y * 3 + 2 * p.sa) % 256
        |     + (xs.x * 5 + ys.y * 17 + 3 * p.sa) % 256)
        |    - ((xs.x * 7 + ys.y * 13 + p.sb) % 256
        |       + (xs.x * 11 + ys.y * 3 + 2 * p.sb) % 256
        |       + (xs.x * 5 + ys.y * 17 + 3 * p.sb) % 256) AS dg
        |  FROM pairs p,
        |       LATERAL (SELECT unnest(range(0, p.w)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, p.h)) AS y) ys),
        |s AS (
        |  SELECT ida, idb, w, h,
        |    sum(CAST(dg AS BIGINT) * dg) AS sse, count(*) AS n
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT ida AS media_id_a, idb AS media_id_b,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sse AS BIGINT) AS sse,
        |  CASE WHEN sse > 0 THEN
        |    floor(10.0 * log10(585225.0 * n / sse) * 1e6 + 0.5) / 1e6
        |  END AS psnr
        |FROM s""".stripMargin,

    // same smoothed bucket multinomials, per-bucket grid terms, grid sum
    "q191_kl_drift" ->
      """WITH toks AS (
        |  SELECT source, t AS term FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |bk AS (
        |  SELECT source AS grp,
        |    CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 256 AS bk,
        |    count(*) AS cg
        |  FROM toks GROUP BY 1, 2),
        |corpus AS (SELECT bk.bk, sum(cg) AS cc FROM bk GROUP BY 1),
        |gtot AS (SELECT grp, sum(cg) AS tg FROM bk GROUP BY 1),
        |ctot AS (SELECT sum(cc) AS tc FROM corpus)
        |SELECT b.grp AS source, CAST(max(g.tg) AS BIGINT) AS n_tokens,
        |  round(sum(round(
        |    ((b.cg + 1.0) / (g.tg + 256.0)) * ln(
        |      ((b.cg + 1.0) / (g.tg + 256.0))
        |      / ((c.cc + 1.0) / (ct.tc + 256.0))), 6)), 6) AS kl
        |FROM bk b
        |JOIN corpus c ON c.bk = b.bk
        |JOIN gtot g ON g.grp = b.grp
        |CROSS JOIN ctot ct
        |GROUP BY b.grp""".stripMargin,

    // same exact-long CUSUM: n*prefix - t*total, argmax with
    // earliest-day tie-break, one division at the end
    "q190_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, sum(v) AS total, count(*) AS n
        |  FROM daily GROUP BY 1),
        |pre AS (
        |  SELECT d.event_type, d.d,
        |    sum(d.v) OVER (PARTITION BY d.event_type ORDER BY d.d
        |                   ROWS UNBOUNDED PRECEDING) AS prefix,
        |    row_number() OVER (PARTITION BY d.event_type ORDER BY d.d) AS t
        |  FROM daily d),
        |c AS (
        |  SELECT p.event_type, p.d,
        |    abs(s.n * p.prefix - p.t * s.total) AS absc, s.n
        |  FROM pre p JOIN st s ON s.event_type = p.event_type),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY absc DESC, d) AS rk FROM c)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days, d AS change_d,
        |  floor(absc / (100.0 * n) * 1e6 + 0.5) / 1e6 AS max_dev
        |FROM r WHERE rk = 1""".stripMargin,

    // positional-cover replay over gram STRINGS (Spark hashes them —
    // q96 collision caveat): rn>1 occurrences cover their 10 positions,
    // documents reassemble from uncovered tokens in order
    "q188_remove_dup_spans" -> RemoveDupSpansOracle,

    // q188's replay nested as a CTE, re-joined with source metadata
    "q200_dedup_savings" ->
      s"""WITH cleaned AS (
        |${RemoveDupSpansOracle.linesIterator.map("  " + _).mkString("\n")}
        |)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
        |    AS n_tokens_raw,
        |  CAST(sum(len(string_split(d.text, ' ')) - c.n_removed) AS BIGINT)
        |    AS n_tokens_kept,
        |  floor(CAST(sum(len(string_split(d.text, ' ')) - c.n_removed)
        |      AS DOUBLE)
        |    / sum(len(string_split(d.text, ' '))) * 1e6 + 0.5) / 1e6
        |    AS kept_ratio
        |FROM documents d JOIN cleaned c ON c.doc_id = d.doc_id
        |GROUP BY d.source""".stripMargin,

    // same md5-threshold sample, same rank-convention bounds, same
    // exact-cents clamped mean
    "q201_winsorized_stats" ->
      """WITH src AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR) AS rid
        |  FROM lineitem),
        |samp AS (
        |  SELECT grp, v, rid FROM src
        |  WHERE CAST(concat('0x', substr(md5(rid), 1, 8)) AS BIGINT)
        |    < 268435456),
        |b AS (
        |  SELECT grp,
        |    min(CASE WHEN rk >= ceil(0.05 * n) THEN v END) AS lo_c,
        |    min(CASE WHEN rk >= ceil(0.95 * n) THEN v END) AS hi_c
        |  FROM (SELECT grp, v,
        |          row_number() OVER (PARTITION BY grp ORDER BY v, rid) AS rk,
        |          count(*) OVER (PARTITION BY grp) AS n FROM samp)
        |  GROUP BY grp)
        |SELECT s.grp AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  min(b.lo_c) / 100.0 AS lo, min(b.hi_c) / 100.0 AS hi,
        |  floor(CAST(sum(greatest(least(s.v, b.hi_c), b.lo_c)) AS DOUBLE)
        |    / count(*) / 100.0 * 1e6 + 0.5) / 1e6 AS winsorized_mean
        |FROM src s LEFT JOIN b ON b.grp = s.grp
        |GROUP BY s.grp""".stripMargin,

    // model refit on the 95% split, backoff scoring replayed: add-one
    // continuation probability (N1b+1)/(T+V+1), discount-funded backoff
    // for seen contexts, pure continuation for unseen contexts
    "q202_kn_heldout" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS tk
        |  FROM documents),
        |occ AS (
        |  SELECT d.doc_id, d.tk[t.i] AS w1, d.tk[t.i + 1] AS w2
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk))) AS i) t
        |  WHERE len(d.tk) >= 2),
        |docss AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(
        |      text || ' novel' || (doc_id % 5) || ' unk' || (doc_id % 3)),
        |      '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents WHERE doc_id % 20 = 0),
        |occf AS (SELECT * FROM occ WHERE doc_id % 20 <> 0),
        |occs AS (
        |  SELECT d.doc_id, d.tk[t.i] AS w1, d.tk[t.i + 1] AS w2
        |  FROM docss d, LATERAL (SELECT unnest(range(1, len(d.tk))) AS i) t
        |  WHERE len(d.tk) >= 2),
        |bi AS (SELECT w1, w2, count(*) AS c FROM occf GROUP BY 1, 2),
        |fwd AS (SELECT w1, sum(c) AS c1, count(*) AS n1f FROM bi GROUP BY 1),
        |bwd AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
        |tt AS (SELECT count(*) AS t FROM bi),
        |vv AS (SELECT count(*) AS v FROM bwd),
        |scored AS (
        |  SELECT o.doc_id,
        |    CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS unseen,
        |    round(ln(CASE WHEN f.c1 IS NOT NULL THEN
        |      coalesce((b.c - 0.75) / f.c1, 0.0)
        |        + (0.75 * f.n1f / f.c1)
        |        * ((coalesce(w.n1b, 0) + 1) / (tt.t + vv.v + 1))
        |    ELSE (coalesce(w.n1b, 0) + 1) / (tt.t + vv.v + 1) END), 6) AS lp
        |  FROM occs o
        |  LEFT JOIN bi b ON b.w1 = o.w1 AND b.w2 = o.w2
        |  LEFT JOIN fwd f ON f.w1 = o.w1
        |  LEFT JOIN bwd w ON w.w2 = o.w2, tt, vv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
        |  floor(round(sum(lp), 6) / count(*) * 1e6 + 0.5) / 1e6 AS mean_logp
        |FROM scored GROUP BY doc_id""".stripMargin,

    // token count replayed via the q180 replace-count law (chars + words
    // minus the number of non-overlapping 'th' merges), then the q93
    // recursive next-fit fold over those weights
    "q203_tokenize_pack" ->
      """WITH RECURSIVE w0 AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        |      AS BIGINT)
        |    + CAST(len(list_filter(string_split_regex(lower(text),
        |        '[^a-z0-9]+'), x -> x <> '')) AS BIGINT)
        |    - (length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |       - length(replace(trim(regexp_replace(lower(text),
        |           '[^a-z0-9]+', ' ', 'g')), 'th', ''))) // 2 AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id % 8 AS shard, doc_id, w,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rk
        |  FROM w0),
        |pack AS (
        |  SELECT shard, rk, doc_id, w, CAST(0 AS BIGINT) AS bin, w AS fill
        |  FROM base WHERE rk = 1
        |  UNION ALL
        |  SELECT b.shard, b.rk, b.doc_id, b.w,
        |    CASE WHEN p.fill + b.w > 512 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + b.w > 512 THEN b.w ELSE p.fill + b.w END
        |  FROM pack p JOIN base b ON b.shard = p.shard AND b.rk = p.rk + 1)
        |SELECT doc_id, shard, bin, fill - w AS offset, w AS n_tokens
        |FROM pack""".stripMargin,

    // the same page synthesis, then every extraction regex replayed in
    // the same order: noise elements out, block split, tag strip, entity
    // decode (amp last), whitespace collapse, link density by visible-
    // length subtraction, and the q44 Gopher rules over the extracted
    // content
    "q204_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>d' || doc_id
        |    || '</title><style>p{margin:0}</style><script>var x=1;'
        |    || '</script></head><body><!-- gen -->'
        |    || '<div><a href="/">home</a> <a href="/l' || (doc_id % 7)
        |    || '">topic</a></div><p>' || text
        |    || ' &amp; more &lt;tag&gt;</p><div>tail ' || (doc_id % 5)
        |    || '</div></body></html>' AS html
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g') AS cleaned FROM h),
        |arr AS (SELECT doc_id, string_split_regex(cleaned,
        |  '(?i)</?(p|div|li|ul|ol|h[1-6]|table|thead|tbody|tr|td|th|br|hr|section|article|header|footer|nav|blockquote)[^>]*>')
        |  AS a FROM s),
        |raws AS (SELECT doc_id, t.i AS pos, a[t.i] AS raw
        |  FROM arr, LATERAL (SELECT unnest(range(1, len(a) + 1)) AS i) t),
        |vis AS (SELECT doc_id, pos,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS txt,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(raw,
        |        '(?is)<a[^>]*>.*?</a>', ' ', 'g'), '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS txt_nolink
        |  FROM raws),
        |blk AS (SELECT doc_id, pos, txt,
        |    CAST(length(txt) AS BIGINT) AS n_chars,
        |    CAST(length(txt) - length(txt_nolink) AS BIGINT) AS link_chars
        |  FROM vis WHERE txt <> ''),
        |k AS (SELECT doc_id, pos, txt, n_chars,
        |    (n_chars >= 25 AND
        |     floor(CAST(link_chars AS DOUBLE) / n_chars * 1e6 + 0.5) / 1e6
        |       <= 0.33) AS keep
        |  FROM blk),
        |agg AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    coalesce(string_agg(CASE WHEN keep THEN txt END, ' '
        |      ORDER BY pos), '') AS content
        |  FROM k GROUP BY doc_id)
        |SELECT doc_id, n_blocks, n_kept,
        |  CAST(length(content) AS BIGINT) AS n_chars_main, content,
        |  (len(string_split(content, ' ')) BETWEEN 50 AND 100000
        |   AND round(CAST(length(replace(content, ' ', '')) AS DOUBLE)
        |         / len(string_split(content, ' ')), 6) BETWEEN 3 AND 10
        |   AND round((CAST(length(content) - length(replace(content, '#', ''))
        |         AS DOUBLE)
        |        + CAST(length(content) - length(replace(content, '...', ''))
        |          AS DOUBLE) / 3)
        |       / len(string_split(content, ' ')), 6) < 0.1
        |   AND round(CAST(len(string_split(content, '. '))
        |        - len(list_distinct(string_split(content, '. '))) AS DOUBLE)
        |       / len(string_split(content, '. ')), 6) < 0.3) AS quality_pass
        |FROM agg""".stripMargin,

    // the whole IVF-PQ pipeline relationally: seed coarse centroids,
    // cosine assignment, per-subspace residuals, PQ codebook seed + one
    // Lloyd iteration (L2, means rounded 6dp), encode, reconstruction
    // norms, ADC contribution tables, approx-cosine rerank cut at 40,
    // then the shared exact-cosine top-10 tail
    "q205_ivfpq_topk" ->
      ("""WITH cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |fasn AS (
        |  SELECT e.vec_id, c.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * y)
        |     FROM (SELECT unnest(e.embedding) AS x, unnest(c.cv) AS y)) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
        |    (SELECT sum(y * y) FROM (SELECT unnest(c.cv) AS y)) AS nc
        |  FROM embeddings e, cents0 c),
        |assigned AS (
        |  SELECT vec_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY
        |        CASE WHEN sqrt(ne) * sqrt(nc) > 0
        |             THEN dot / (sqrt(ne) * sqrt(nc)) ELSE 0.0 END DESC,
        |        cid ASC) AS rn
        |    FROM fasn) WHERE rn = 1),
        |rsub AS (
        |  SELECT a.vec_id, a.list_id, t.m,
        |    (SELECT list(CAST(e.embedding[t.m * 8 + j.i] AS DOUBLE)
        |                 - c.cv[t.m * 8 + j.i] ORDER BY j.i)
        |     FROM (SELECT unnest(range(1, 9)) AS i) j) AS sub
        |  FROM assigned a
        |  JOIN embeddings e USING (vec_id)
        |  JOIN cents0 c ON c.cid = a.list_id,
        |  LATERAL (SELECT unnest(range(8)) AS m) t),
        |cb0 AS (
        |  SELECT r.m, CAST(row_number()
        |      OVER (PARTITION BY r.m ORDER BY r.vec_id) - 1 AS INT) AS cid,
        |    r.sub AS cv
        |  FROM rsub r
        |  WHERE r.vec_id IN
        |    (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
        |pd0 AS (
        |  SELECT r.vec_id, r.m, b.cid,
        |    (SELECT sum((x - y) * (x - y))
        |     FROM (SELECT unnest(r.sub) AS x, unnest(b.cv) AS y)) AS d
        |  FROM rsub r JOIN cb0 b ON b.m = r.m),
        |pa0 AS (
        |  SELECT vec_id, m, cid FROM (
        |    SELECT vec_id, m, cid,
        |      row_number() OVER (PARTITION BY vec_id, m
        |        ORDER BY d ASC, cid ASC) AS rn
        |    FROM pd0) WHERE rn = 1),
        |pmean AS (
        |  SELECT a.m, a.cid, t.pos, round(avg(r.sub[t.pos + 1]), 6) AS mn
        |  FROM pa0 a JOIN rsub r USING (vec_id, m),
        |       LATERAL (SELECT unnest(range(8)) AS pos) t
        |  GROUP BY 1, 2, 3),
        |cb1 AS (
        |  SELECT b.m, b.cid, coalesce(mv.v, b.cv) AS cv
        |  FROM cb0 b LEFT JOIN (
        |    SELECT m, cid, list(mn ORDER BY pos) AS v
        |    FROM pmean GROUP BY m, cid) mv
        |  USING (m, cid)),
        |pd1 AS (
        |  SELECT r.vec_id, r.m, b.cid,
        |    (SELECT sum((x - y) * (x - y))
        |     FROM (SELECT unnest(r.sub) AS x, unnest(b.cv) AS y)) AS d
        |  FROM rsub r JOIN cb1 b ON b.m = r.m),
        |enc AS (
        |  SELECT vec_id, m, cid AS code FROM (
        |    SELECT vec_id, m, cid,
        |      row_number() OVER (PARTITION BY vec_id, m
        |        ORDER BY d ASC, cid ASC) AS rn
        |    FROM pd1) WHERE rn = 1),
        |recon AS (
        |  SELECT c.cid AS list_id, b.m, b.cid,
        |    (SELECT list(c.cv[b.m * 8 + j.i] + b.cv[j.i] ORDER BY j.i)
        |     FROM (SELECT unnest(range(1, 9)) AS i) j) AS rv
        |  FROM cents0 c, cb1 b),
        |rnorm AS (
        |  SELECT list_id, m, cid,
        |    (SELECT sum(x * x) FROM (SELECT unnest(rv) AS x)) AS rn2
        |  FROM recon),
        |state AS (
        |  SELECT en.vec_id, a.list_id, en.m, en.code, rn.rn2
        |  FROM enc en JOIN assigned a USING (vec_id)
        |  JOIN rnorm rn ON rn.list_id = a.list_id AND rn.m = en.m
        |    AND rn.cid = en.code),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS list_id FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY
        |        CASE WHEN sqrt(ne) * sqrt(nc) > 0
        |             THEN dot / (sqrt(ne) * sqrt(nc)) ELSE 0.0 END DESC,
        |        cid ASC) AS rn
        |    FROM fasn WHERE vec_id < 5) WHERE rn <= 4),
        |qn AS (
        |  SELECT vec_id AS query_id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(embedding) AS x)) AS qn2
        |  FROM embeddings WHERE vec_id < 5),
        |adc AS (
        |  SELECT p.query_id, p.list_id, r.m, r.cid,
        |    (SELECT sum(CAST(q.embedding[r.m * 8 + j.i] AS DOUBLE) * r.rv[j.i])
        |     FROM (SELECT unnest(range(1, 9)) AS i) j) AS contrib
        |  FROM probes p
        |  JOIN embeddings q ON q.vec_id = p.query_id
        |  JOIN recon r ON r.list_id = p.list_id),
        |approx AS (
        |  SELECT s.vec_id, a.query_id,
        |    sum(a.contrib) AS adot, sum(s.rn2) AS xn2, min(q.qn2) AS qn2
        |  FROM state s
        |  JOIN adc a ON a.list_id = s.list_id AND a.m = s.m
        |    AND a.cid = s.code
        |  JOIN qn q ON q.query_id = a.query_id
        |  WHERE a.query_id <> s.vec_id
        |  GROUP BY s.vec_id, a.query_id),
        |cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY
        |        round(CASE WHEN sqrt(qn2) * sqrt(xn2) > 0
        |              THEN adot / (sqrt(qn2) * sqrt(xn2)) ELSE 0.0 END, 6) DESC,
        |        vec_id ASC) AS rn
        |    FROM approx) WHERE rn <= 40),
        |""".stripMargin + CosineRankTail),

    // the same filtered-token positional alignment, relationally
    "q199_phrase_search" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS tk
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, t.i - 1 AS tp, tk[t.i] AS term
        |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk) + 1)) AS i) t
        |  WHERE tk[t.i] IN ('part', 'filter'))
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM toks a
        |JOIN toks b ON b.doc_id = a.doc_id AND b.tp = a.tp + 1
        |  AND b.term = 'filter'
        |WHERE a.term = 'part'
        |GROUP BY a.doc_id""".stripMargin,

    // exact quartile boundaries per language (every language fits the
    // sketch at this SF) under the lower-value rank convention
    // v[ceil(p*n)], then the same strictly-above bucket assignment
    "q187_quantile_buckets" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (
        |  SELECT lang,
        |    min(CASE WHEN rk >= ceil(0.25 * n) THEN n_chars END) AS b1,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN n_chars END) AS b2,
        |    min(CASE WHEN rk >= ceil(0.75 * n) THEN n_chars END) AS b3
        |  FROM r GROUP BY lang),
        |a AS (
        |  SELECT d.lang,
        |    CAST(CAST(d.n_chars > b.b1 AS INT) + CAST(d.n_chars > b.b2 AS INT)
        |      + CAST(d.n_chars > b.b3 AS INT) AS BIGINT) AS bucket,
        |    d.n_chars
        |  FROM documents d JOIN b ON b.lang = d.lang)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM a GROUP BY lang, bucket""".stripMargin,

    "q46_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |        '@example.com tel +1 555 123 4' || CAST(doc_id % 100 AS VARCHAR),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
        |FROM documents""".stripMargin,

    // same five RE2-compatible patterns, same order (specific shapes
    // before the greedy phone digit-run)
    "q48_pii_scrub_extended" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(
        |      text || ' reach user' || CAST(doc_id AS VARCHAR) ||
        |        '@mail.example ip 10.2.' || CAST(doc_id % 256 AS VARCHAR) ||
        |        '.9 ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |        ' card 4111 1111 1111 1111 tel +44 20 7946 09' ||
        |        CAST(doc_id % 100 AS VARCHAR),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b|\b[0-9]{13,16}\b', '<CC>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
        |FROM documents""".stripMargin,

    "q43_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,

    "q50_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // session_window SPLITS at exactly-gap boundaries (windows are
    // end-exclusive), hence >= in the gap test where q51's manual
    // sessionize uses >.
    "q53_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "q52_json_funcs" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS ndv_k,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    // the oracle builds the SAME json text and extracts with DuckDB's
    // json operators — typed extraction parity over identical input
    "q168_variant" ->
      """SELECT event_id,
        |  js->>'$.meta.type' AS typ,
        |  CAST(js->>'$.meta.ord' AS BIGINT) AS ord,
        |  CAST(js->>'$.ids[0]' AS BIGINT) AS first_id,
        |  (js->>'$.absent' IS NULL) AS absent_null
        |FROM (
        |  SELECT event_id,
        |    '{"meta":{"type":"' || event_type || '","ord":' ||
        |    CAST(event_id % 7 AS VARCHAR) || '},"ids":[' ||
        |    CAST(user_id AS VARCHAR) || ',' || CAST(event_id AS VARCHAR) ||
        |    ']}' AS js
        |  FROM events)""".stripMargin,

    "q51_sessionize" ->
      """SELECT user_id,
        |  CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT user_id, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |           THEN 1 ELSE 0 END AS is_new
        |    FROM events))
        |GROUP BY user_id""".stripMargin,

    "q70_pipeline_clientes" ->
      (etl.RefShaped.OracleCtes + "SELECT IdCliente, Nombre, Email FROM clientes"),

    "q71_pipeline_productos" ->
      (etl.RefShaped.OracleCtes + "SELECT IdProducto, Nombre, IdCategoria FROM productos"),

    "q72_pipeline_comentarios" ->
      (etl.RefShaped.OracleCtes +
        "SELECT IdComment, IdCliente, IdProducto, IdFuente, Fecha, Comentario FROM comentarios"),

    "q73_pipeline_encuestas" ->
      (etl.RefShaped.OracleCtes +
        """SELECT IdOpinion, IdCliente, IdProducto, IdCarga, Fecha, Comentario,
          |  IdClasificacion, PuntajeSatisfaccion FROM encuestas""".stripMargin),

    "q74_pipeline_webreviews" ->
      (etl.RefShaped.OracleCtes +
        "SELECT IdReview, IdCliente, IdProducto, IdCarga, Fecha, Comentario, Rating FROM webreviews"),

    "q75_pipeline_dims" ->
      (etl.RefShaped.OracleCtes +
        """SELECT 'categorias' AS tabla, IdCategoria AS id, Nombre AS nombre,
          |  CAST(NULL AS TIMESTAMP) AS fecha_carga FROM categorias
          |UNION ALL SELECT 'clasificaciones', IdClasificacion, Nombre, CAST(NULL AS TIMESTAMP) FROM clasificaciones
          |UNION ALL SELECT 'fuentes', IdFuente, Nombre, CAST(NULL AS TIMESTAMP) FROM fuentes
          |UNION ALL SELECT 'registrocargas', IdCarga, Nombre, FechaCarga FROM cargas""".stripMargin),

    "q60_media_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  'text' AS kind
        |FROM documents""".stripMargin,

    "q63_audio_decode" ->
      """WITH params AS (
        |  SELECT doc_id, 800 + (doc_id % 10) * 160 AS n, 3 + (doc_id % 8) AS f
        |  FROM documents),
        |samples AS (
        |  SELECT p.doc_id, p.n, t.i, ((t.i * p.f * 997) % 16000) * 4 - 32000 AS s
        |  FROM params p, LATERAL (SELECT unnest(range(0, p.n)) AS i) t),
        |lagged AS (
        |  SELECT doc_id, n, s,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM samples)
        |SELECT doc_id AS media_id, 16000 AS sample_rate, CAST(n AS BIGINT) AS n_samples,
        |  round(sqrt(avg(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))), 6) AS rms,
        |  CAST(max(abs(s)) AS BIGINT) AS peak,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND s * prev < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zcr
        |FROM lagged GROUP BY doc_id, n""".stripMargin,

    // channel means recomputed from the pixel-value formula; integer sums
    // stay below 2^53 so avg() is exact in double on both engines
    // generic dispatch over the mixed corpus: image thirds replay the
    // pixel formula (PNG and BMP share it — the codecs differ, the
    // pixels don't), audio third replays the waveform formula
    "q61_media_features" ->
      """WITH params AS (
        |  SELECT doc_id, doc_id % 3 AS m,
        |    8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h, doc_id % 251 AS seed,
        |    800 + (doc_id % 10) * 160 AS n, 3 + (doc_id % 8) AS f
        |  FROM documents),
        |px AS (
        |  SELECT p.doc_id, p.m, p.w, p.h,
        |    avg(CAST((xs.x * 7 + ys.y * 13 + p.seed) % 256 AS DOUBLE)) AS mr,
        |    avg(CAST((xs.x * 11 + ys.y * 3 + 2 * p.seed) % 256 AS DOUBLE)) AS mg,
        |    avg(CAST((xs.x * 5 + ys.y * 17 + 3 * p.seed) % 256 AS DOUBLE)) AS mb
        |  FROM params p,
        |       LATERAL (SELECT unnest(range(0, p.w)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, p.h)) AS y) ys
        |  WHERE p.m < 2
        |  GROUP BY p.doc_id, p.m, p.w, p.h),
        |samples AS (
        |  SELECT p.doc_id, p.n, t.i, ((t.i * p.f * 997) % 16000) * 4 - 32000 AS s
        |  FROM params p, LATERAL (SELECT unnest(range(0, p.n)) AS i) t
        |  WHERE p.m = 2),
        |lagged AS (
        |  SELECT doc_id, n, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM samples),
        |aud AS (
        |  SELECT doc_id, n,
        |    sqrt(avg(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))) AS rms,
        |    max(abs(s)) AS peak,
        |    sum(CASE WHEN prev IS NOT NULL AND s * prev < 0 THEN 1 ELSE 0 END) AS zcr
        |  FROM lagged GROUP BY doc_id, n)
        |SELECT doc_id AS media_id,
        |  CASE WHEN m = 0 THEN 'png' ELSE 'bmp' END AS kind,
        |  CAST(w AS DOUBLE) AS f1, CAST(h AS DOUBLE) AS f2,
        |  round(mr, 6) AS f3, round(mg, 6) AS f4, round(mb, 6) AS f5
        |FROM px
        |UNION ALL
        |SELECT doc_id, 'wav', 16000.0, CAST(n AS DOUBLE),
        |  round(rms, 6), CAST(peak AS DOUBLE), CAST(zcr AS DOUBLE)
        |FROM aud""".stripMargin,

    "q80_image_decode" ->
      """WITH params AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
        |    doc_id % 251 AS seed
        |  FROM documents),
        |px AS (
        |  SELECT p.doc_id, p.w, p.h,
        |    (xs.x * 7 + ys.y * 13 + p.seed) % 256 AS r,
        |    (xs.x * 11 + ys.y * 3 + 2 * p.seed) % 256 AS g,
        |    (xs.x * 5 + ys.y * 17 + 3 * p.seed) % 256 AS b
        |  FROM params p,
        |       LATERAL (SELECT unnest(range(0, p.w)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, p.h)) AS y) ys)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  round(avg(CAST(r AS DOUBLE)), 6) AS mean_r,
        |  round(avg(CAST(g AS DOUBLE)), 6) AS mean_g,
        |  round(avg(CAST(b AS DOUBLE)), 6) AS mean_b
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // the container layout replayed as arithmetic: header block is 224
    // bytes (RIFF hdr 12 + hdrl 200 + movi LIST hdr 12), each frame adds
    // an 8-byte chunk header, payload offset = prefix sum of predecessors
    "q62_frame_sample" ->
      """WITH fr AS (
        |  SELECT doc_id AS media_id, CAST(k.i AS BIGINT) AS frame_idx,
        |    CAST(2 * (100 + ((doc_id * 31 + k.i * 7) % 120)) AS BIGINT) AS frame_bytes
        |  FROM documents,
        |       LATERAL (SELECT unnest(range(0, 4 + doc_id % 5)) AS i) k)
        |SELECT media_id, frame_idx,
        |  CAST(232 + coalesce(sum(8 + frame_bytes) OVER (
        |      PARTITION BY media_id ORDER BY frame_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS offset,
        |  frame_bytes,
        |  (frame_idx % 4 = 0) AS keyframe
        |FROM fr""".stripMargin,

    // the same spelling synthesis, then the canonical rule chain step
    // for step: fragment strip, scheme default, lowercase, default-port
    // strip, www strip, tracking-param filter + sort, trailing-slash
    // strip, then host/domain derivation
    "q207_url_canonicalize" ->
      (UrlCanonCtes +
        """SELECT doc_id, url_canonical, host,
          |  CASE WHEN regexp_matches(host, '^[0-9.]+$') THEN host
          |       WHEN len(ls) <= 2 THEN host
          |       WHEN length(ls[len(ls)]) = 2 AND ls[len(ls) - 1] IN
          |            ('co', 'com', 'net', 'org', 'gov', 'ac', 'edu')
          |         THEN array_to_string(ls[len(ls) - 2:len(ls)], '.')
          |       ELSE array_to_string(ls[len(ls) - 1:len(ls)], '.') END
          |    AS domain
          |FROM s9""".stripMargin),

    // same chain, grouped: raw url count vs distinct canonical forms
    "q208_domain_stats" ->
      (UrlCanonCtes +
        """SELECT
          |  CASE WHEN regexp_matches(host, '^[0-9.]+$') THEN host
          |       WHEN len(ls) <= 2 THEN host
          |       WHEN length(ls[len(ls)]) = 2 AND ls[len(ls) - 1] IN
          |            ('co', 'com', 'net', 'org', 'gov', 'ac', 'edu')
          |         THEN array_to_string(ls[len(ls) - 2:len(ls)], '.')
          |       ELSE array_to_string(ls[len(ls) - 1:len(ls)], '.') END
          |    AS domain,
          |  CAST(count(*) AS BIGINT) AS n_urls,
          |  CAST(count(DISTINCT url_canonical) AS BIGINT) AS n_canonical
          |FROM s9 GROUP BY 1""".stripMargin),

    // every gate's established oracle idiom composed: q44 gopher, q30
    // first-of-dup-group, q94 base split, embedding norm existence
    "q216_training_manifest" ->
      """WITH canon AS (
        |  SELECT md5(text) AS h, min(doc_id) AS keep_id
        |  FROM documents GROUP BY md5(text)),
        |emb AS (
        |  SELECT vec_id AS doc_id,
        |    ((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |      FROM (SELECT unnest(embedding) AS x)) > 0) AS emb_ok
        |  FROM embeddings),
        |base AS (
        |  SELECT d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |    (len(string_split(d.text, ' ')) BETWEEN 50 AND 100000
        |     AND round(CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
        |           / len(string_split(d.text, ' ')), 6) BETWEEN 3 AND 10
        |     AND round((CAST(length(d.text) - length(replace(d.text, '#', ''))
        |           AS DOUBLE)
        |          + CAST(length(d.text) - length(replace(d.text, '...', ''))
        |            AS DOUBLE) / 3)
        |         / len(string_split(d.text, ' ')), 6) < 0.1
        |     AND round(CAST(len(string_split(d.text, '. '))
        |          - len(list_distinct(string_split(d.text, '. '))) AS DOUBLE)
        |         / len(string_split(d.text, '. ')), 6) < 0.3) AS quality_pass,
        |    (d.doc_id = c.keep_id) AS is_canonical,
        |    CASE WHEN substr(md5(d.text), 1, 4) < '199a'
        |         THEN 'val' ELSE 'train' END AS split,
        |    coalesce(e.emb_ok, FALSE) AS has_embedding
        |  FROM documents d
        |  JOIN canon c ON c.h = md5(d.text)
        |  LEFT JOIN emb e ON e.doc_id = d.doc_id)
        |SELECT *, (quality_pass AND is_canonical AND has_embedding) AS keep
        |FROM base""".stripMargin,

    // every Holt-Winters update replayed as a recursive CTE: the nl
    // expression inlines three times (a recursive SELECT cannot
    // reference its own aliases), dyadic constants exact both sides
    "q215_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS series,
        |    CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |arr AS (
        |  SELECT series, list(CAST(n AS DOUBLE) ORDER BY day) AS y
        |  FROM daily GROUP BY 1),
        |ok AS (SELECT * FROM arr WHERE len(y) >= 15),
        |init0 AS (
        |  SELECT series, y,
        |    (SELECT sum(v) FROM unnest(y[1:7]) AS u(v)) / 7 AS a1,
        |    (SELECT sum(v) FROM unnest(y[8:14]) AS u(v)) / 7 AS a2
        |  FROM ok),
        |init AS (
        |  SELECT series, y,
        |    floor(a1 * 1e6 + 0.5) / 1e6 AS lvl,
        |    floor((a2 - a1) / 7 * 1e6 + 0.5) / 1e6 AS tr
        |  FROM init0),
        |seas0 AS (
        |  SELECT series, y, lvl, tr,
        |    (SELECT list(floor((y[j.i] - lvl) * 1e6 + 0.5) / 1e6 ORDER BY j.i)
        |     FROM (SELECT unnest(range(1, 8)) AS i) j) AS seas
        |  FROM init),
        |step AS (
        |  SELECT series, 7 AS t, lvl, tr, seas, y FROM seas0
        |  UNION ALL
        |  SELECT series, t + 1,
        |    floor((0.25 * (y[t + 1] - seas[(t % 7) + 1])
        |      + 0.75 * (lvl + tr)) * 1e6 + 0.5) / 1e6,
        |    floor((0.125 * (floor((0.25 * (y[t + 1] - seas[(t % 7) + 1])
        |        + 0.75 * (lvl + tr)) * 1e6 + 0.5) / 1e6 - lvl)
        |      + 0.875 * tr) * 1e6 + 0.5) / 1e6,
        |    seas[1:(t % 7)]
        |      || [floor((0.25 * (y[t + 1]
        |            - floor((0.25 * (y[t + 1] - seas[(t % 7) + 1])
        |                + 0.75 * (lvl + tr)) * 1e6 + 0.5) / 1e6)
        |          + 0.75 * seas[(t % 7) + 1]) * 1e6 + 0.5) / 1e6]
        |      || seas[(t % 7) + 2:7],
        |    y
        |  FROM step WHERE t < len(y))
        |SELECT series, CAST(len(y) AS BIGINT) AS n_days,
        |  lvl AS level, tr AS trend,
        |  floor((lvl + tr + seas[(t % 7) + 1]) * 1e6 + 0.5) / 1e6
        |    AS forecast_next
        |FROM step WHERE t = len(y)""".stripMargin,

    // the detected bin replayed from the synthesis parameters: the
    // sawtooth fundamental freq*997 Hz, folded at Nyquist
    "q214_dominant_freq" ->
      """SELECT doc_id AS media_id, 16000 AS sample_rate,
        |  CAST(800 + (doc_id % 10) * 160 AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN (3 + doc_id % 8) * 997 <= 8000
        |       THEN (3 + doc_id % 8) * 997
        |       ELSE 16000 - (3 + doc_id % 8) * 997 END AS BIGINT)
        |    AS detected_hz
        |FROM documents""".stripMargin,

    // first-owner aggregation for new terms, bucket totals, cumulative
    // window over the 20-point frame, grid-sum least squares
    "q213_heaps_law" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM documents,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''),
        |mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
        |tc AS (
        |  SELECT CAST(floor(doc_id * 20 / (mx.mx + 1)) AS BIGINT) AS bucket,
        |    count(*) AS toks
        |  FROM toks, mx GROUP BY 1),
        |fo AS (SELECT term, min(doc_id) AS fd FROM toks GROUP BY 1),
        |nv AS (
        |  SELECT CAST(floor(fd * 20 / (mx.mx + 1)) AS BIGINT) AS bucket,
        |    count(*) AS nv
        |  FROM fo, mx GROUP BY 1),
        |curve AS (
        |  SELECT tc.bucket,
        |    CAST(sum(tc.toks) OVER (ORDER BY tc.bucket) AS BIGINT)
        |      AS cum_tokens,
        |    CAST(sum(coalesce(nv.nv, 0)) OVER (ORDER BY tc.bucket) AS BIGINT)
        |      AS cum_vocab
        |  FROM tc LEFT JOIN nv USING (bucket)),
        |pts AS (
        |  SELECT round(ln(cum_tokens), 6) AS x, round(ln(cum_vocab), 6) AS y,
        |    round(round(ln(cum_tokens), 6) * round(ln(cum_vocab), 6), 6) AS xy,
        |    round(round(ln(cum_tokens), 6) * round(ln(cum_tokens), 6), 6) AS xx
        |  FROM curve),
        |fit AS (
        |  SELECT floor((count(*) * round(sum(xy), 6)
        |      - round(sum(x), 6) * round(sum(y), 6))
        |    / (count(*) * round(sum(xx), 6)
        |      - round(sum(x), 6) * round(sum(x), 6))
        |    * 1e6 + 0.5) / 1e6 AS heaps_beta
        |  FROM pts)
        |SELECT curve.bucket, curve.cum_tokens, curve.cum_vocab,
        |  fit.heaps_beta
        |FROM curve, fit""".stripMargin,

    // LM refit on the en slice, backoff scoring of every doc, then the
    // q187 rank-boundary bucket replay per source over the scores
    "q212_perplexity_filter" ->
      """WITH docs0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '') AS tk
        |  FROM documents),
        |occ AS (
        |  SELECT d.doc_id, d.tk[t.i] AS w1, d.tk[t.i + 1] AS w2
        |  FROM docs0 d, LATERAL (SELECT unnest(range(1, len(d.tk))) AS i) t
        |  WHERE len(d.tk) >= 2),
        |occf AS (
        |  SELECT o.* FROM occ o JOIN documents d USING (doc_id)
        |  WHERE d.lang = 'en'),
        |bi AS (SELECT w1, w2, count(*) AS c FROM occf GROUP BY 1, 2),
        |fwd AS (SELECT w1, sum(c) AS c1, count(*) AS n1f FROM bi GROUP BY 1),
        |bwd AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
        |tt AS (SELECT count(*) AS t FROM bi),
        |vv AS (SELECT count(*) AS v FROM bwd),
        |sc AS (
        |  SELECT o.doc_id,
        |    round(ln(CASE WHEN f.c1 IS NOT NULL THEN
        |      coalesce((b.c - 0.75) / f.c1, 0.0)
        |        + (0.75 * f.n1f / f.c1)
        |        * ((coalesce(w.n1b, 0) + 1) / (tt.t + vv.v + 1))
        |    ELSE (coalesce(w.n1b, 0) + 1) / (tt.t + vv.v + 1) END), 6) AS lp
        |  FROM occ o
        |  LEFT JOIN bi b ON b.w1 = o.w1 AND b.w2 = o.w2
        |  LEFT JOIN fwd f ON f.w1 = o.w1
        |  LEFT JOIN bwd w ON w.w2 = o.w2, tt, vv),
        |perdoc AS (
        |  SELECT doc_id,
        |    floor(round(sum(lp), 6) / count(*) * 1e6 + 0.5) / 1e6
        |      AS mean_logp
        |  FROM sc GROUP BY doc_id),
        |j AS (
        |  SELECT p.doc_id, d.source, p.mean_logp
        |  FROM perdoc p JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY mean_logp) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM j),
        |b AS (
        |  SELECT source,
        |    min(CASE WHEN rk >= ceil(0.25 * n) THEN mean_logp END) AS b1,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN mean_logp END) AS b2,
        |    min(CASE WHEN rk >= ceil(0.75 * n) THEN mean_logp END) AS b3
        |  FROM r GROUP BY source),
        |a AS (
        |  SELECT j.doc_id, j.source, j.mean_logp,
        |    CAST(CAST(j.mean_logp > b.b1 AS INT)
        |      + CAST(j.mean_logp > b.b2 AS INT)
        |      + CAST(j.mean_logp > b.b3 AS INT) AS BIGINT) AS bucket
        |  FROM j JOIN b ON b.source = j.source)
        |SELECT doc_id, source, mean_logp, bucket,
        |  (bucket IN (1, 2)) AS keep
        |FROM a""".stripMargin,

    // BM25 scoring with anchor-tf query weights, exact-Jaccard pair
    // exclusion in both orientations, per-anchor rank
    "q211_hard_negatives" ->
      ("WITH " + JaccardCtes(0.35) + ",\n" +
        """toks AS (
          |  SELECT doc_id, t AS term FROM documents,
          |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
          |  WHERE t <> ''),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
          |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen),
          |q AS (
          |  SELECT tf.doc_id AS anchor_id, tf.term, tf.tf AS qtf
          |  FROM tf WHERE tf.doc_id < 5),
          |hits AS (
          |  SELECT q.anchor_id, tf.doc_id,
          |    round(sum(q.qtf
          |      * ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
          |      * tf.tf * 2.2
          |      / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))), 4)
          |      AS score
          |  FROM tf
          |  JOIN q ON tf.term = q.term AND tf.doc_id <> q.anchor_id
          |  JOIN dfr ON dfr.term = tf.term
          |  JOIN dlen ON dlen.doc_id = tf.doc_id
          |  CROSS JOIN stats
          |  GROUP BY 1, 2),
          |posb AS (
          |  SELECT id_a AS anchor_id, id_b AS doc_id FROM jpairs
          |  UNION ALL SELECT id_b, id_a FROM jpairs),
          |negs AS (
          |  SELECT h.anchor_id, h.doc_id, h.score FROM hits h
          |  LEFT JOIN posb p
          |    ON p.anchor_id = h.anchor_id AND p.doc_id = h.doc_id
          |  WHERE p.anchor_id IS NULL),
          |ranked AS (
          |  SELECT anchor_id, doc_id, score,
          |    row_number() OVER (PARTITION BY anchor_id
          |      ORDER BY score DESC, doc_id ASC) AS rank
          |  FROM negs)
          |SELECT anchor_id, doc_id, score, CAST(rank AS BIGINT) AS rank
          |FROM ranked WHERE rank <= 10""".stripMargin),

    // href extraction + canonical host chain + all three PageRank
    // iterations replayed relationally over the same page synthesis
    "q210_link_graph_rank" ->
      ("""WITH u AS (
        |  SELECT doc_id, url FROM (
        |    SELECT doc_id,
        |      unnest(regexp_extract_all(
        |        '<html><body><p>' || text || '</p>'
        |        || '<a href="http://site' || ((doc_id * 3 + 1) % 40)
        |        || '.example.com/x">t1</a>'
        |        || '<a href="https://WWW.Site' || ((doc_id * 3 + 2) % 40)
        |        || '.Example.COM:443/y/">t2</a>'
        |        || '<a href="/local">rel</a></body></html>',
        |        '(?i)<a[^>]+href=["'']([^"''>]+)["'']', 1)) AS url
        |    FROM documents)
        |  WHERE strpos(url, '://') > 0),
        |""".stripMargin + UrlChainCtes + ",\n" +
        """e AS (
        |  SELECT DISTINCT 'site' || (doc_id % 40) || '.example.com' AS src,
        |    host AS dst
        |  FROM s9
        |  WHERE 'site' || (doc_id % 40) || '.example.com' <> host),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |edeg AS (SELECT e.src, e.dst, o.outdeg
        |         FROM e JOIN outdeg o ON e.src = o.src),
        |pr0 AS (
        |  SELECT node, (2000000 + nn.n) // (2 * nn.n) AS pr6
        |  FROM nodes, nn),
        |""".stripMargin +
        (0 until 3).map(PageRankIterCtes).mkString(",\n") + "\n" +
        """SELECT node, CAST(pr6 AS DOUBLE) / 1000000 AS pr FROM pr3""".stripMargin),

    // exact daily distincts replayed relationally; the HLL estimates
    // can't enter static SQL (sketch binaries), so their error bounds
    // ride as pinned booleans
    "q209_hll_incremental" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS daily_ok, TRUE AS total_ok
        |FROM d GROUP BY day""".stripMargin,

    // decoded pixel stats replayed from the block-value formula: frame
    // k's 8x8 block (bx, by) is the constant
    // (id*31 + k*17 + bx*7 + by*13) % 256, frames are 2x2 blocks
    "q206_mjpeg_decode" ->
      """WITH fr AS (
        |  SELECT doc_id AS media_id, CAST(k.i AS BIGINT) AS frame_idx
        |  FROM documents,
        |       LATERAL (SELECT unnest(range(0, 4 + doc_id % 5)) AS i) k),
        |bl AS (
        |  SELECT media_id, frame_idx,
        |    (media_id * 31 + frame_idx * 17 + bx.x * 7 + by.y * 13) % 256 AS v
        |  FROM fr,
        |       LATERAL (SELECT unnest(range(2)) AS x) bx,
        |       LATERAL (SELECT unnest(range(2)) AS y) by)
        |SELECT media_id, frame_idx,
        |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(sum(v) AS DOUBLE) / 4 AS mean_gray,
        |  CAST(min(v) AS BIGINT) AS min_gray,
        |  CAST(max(v) AS BIGINT) AS max_gray
        |FROM bl GROUP BY media_id, frame_idx""".stripMargin
  )

  /** One SQL text, two engines: runs through Catalyst (q99) and as its own
    * DuckDB oracle — the portability proof for SQL users of the engine. */
  /** Unrolled Morton interleave in ANSI SQL: 32 even-position terms for x
    * plus 32 odd-position terms for y — all bit positions disjoint, so
    * plain addition assembles the value. Verifies ZOrderExpr bit by bit. */
  /** Shared CTE chain for the URL-canonicalization oracles: the q207
    * synthesis plus every canonical rule in the Spark operator's order;
    * ends with `s9(doc_id, url_canonical, host, ls)`. */
  private val UrlCanonCtes: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE doc_id % 5
      |      WHEN 0 THEN 'HTTP://WWW.Site' || (doc_id % 40)
      |        || '.Example.COM:80/a/b/' || (doc_id % 7)
      |        || '/?utm_source=x&b=2&a=1#frag'
      |      WHEN 1 THEN 'https://Blog.Site' || (doc_id % 40)
      |        || '.example.CO.UK:443/post/' || (doc_id % 9) || '?gclid=123'
      |      WHEN 2 THEN 'site' || (doc_id % 40) || '.example.net:8080/path///'
      |      WHEN 3 THEN 'https://192.168.' || (doc_id % 9)
      |        || '.1/metrics?ref=abc&z=9&y=8'
      |      ELSE 'HTTPS://www.example.org/?utm_campaign=c' || doc_id
      |    END AS url
      |  FROM documents),
      |""".stripMargin + UrlChainCtes

  /** The canonicalization steps alone — every rule in the Spark
    * operator's order, over a caller-provided `u(doc_id, url)` CTE;
    * ends with `s9(doc_id, url_canonical, host, ls)`. Reused by the
    * q207/q208 oracles and by q210's link-host derivation. (A def, not
    * a val: UrlCanonCtes above references it during object init.) */
  private def UrlChainCtes: String =
    """s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS nofrag
      |       FROM u),
      |s2 AS (SELECT doc_id,
      |    CASE WHEN regexp_matches(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://')
      |         THEN nofrag ELSE 'http://' || nofrag END AS t
      |  FROM s1),
      |s3 AS (SELECT doc_id, t,
      |    lower(regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(t, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM s2),
      |s4 AS (SELECT *, lower(regexp_extract(rest, '^([^/?]*)', 1)) AS auth,
      |    regexp_replace(rest, '^[^/?]*', '') AS pathq
      |  FROM s3),
      |s5 AS (SELECT *,
      |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
      |         ELSE auth END AS nodef
      |  FROM s4),
      |s6 AS (SELECT *, regexp_replace(nodef, '^www\.', '') AS hostp,
      |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
      |      AS path,
      |    CASE WHEN strpos(pathq, '?') > 0
      |         THEN regexp_replace(pathq, '^[^?]*\?', '') ELSE '' END AS qs
      |  FROM s5),
      |s7 AS (SELECT *, list_sort(list_filter(string_split(qs, '&'),
      |      p -> p <> '' AND NOT starts_with(p, 'utm_')
      |        AND NOT regexp_matches(p, '^(fbclid|gclid|msclkid|ref)(=|$)')))
      |      AS params
      |  FROM s6),
      |s8 AS (SELECT doc_id, scheme || '://' || hostp || path ||
      |    CASE WHEN len(params) > 0
      |         THEN '?' || array_to_string(params, '&') ELSE '' END
      |      AS url_canonical,
      |    regexp_replace(hostp, ':[0-9]+$', '') AS host
      |  FROM s7),
      |s9 AS (SELECT doc_id, url_canonical, host,
      |    string_split(host, '.') AS ls FROM s8)
      |""".stripMargin

  private def ZOrderSql(x: String, y: String): String =
    (0 until 32).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  private val SqlQ3: String =
    """SELECT l_orderkey,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |                 * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey
      |HAVING sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |           * (1 - CAST(l_discount AS DECIMAL(18,4)))) > 50000""".stripMargin

  /** Shared DuckDB CTE block: word 3-gram shingle sets per document and
    * the exact-Jaccard pairs at `threshold` (the oracle mirror of
    * ShingleExpr + the inverted-index pair join). Used by q33 directly and
    * by the q37/q39 connected-components oracles. */
  private def JaccardCtes(threshold: Double): String =
    JaccardCtesFrom("SELECT doc_id, text FROM documents", threshold)

  /** [[JaccardCtes]] over an arbitrary (doc_id, text) source subquery —
    * q333's graded-near-dup corpus grades recall over a DERIVED corpus,
    * not the raw table. */
  private def JaccardCtesFrom(src: String, threshold: Double): String =
    s"""docs AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM ($src)),
       |grams AS (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT d.doc_id, d.toks[t.i] || ' ' || d.toks[t.i + 1] || ' ' || d.toks[t.i + 2] AS g
       |    FROM docs d, LATERAL (SELECT unnest(range(1, len(d.toks) - 1)) AS i) t
       |    WHERE len(d.toks) >= 3
       |    UNION ALL
       |    SELECT doc_id, array_to_string(toks, ' ') AS g FROM docs WHERE len(toks) < 3)),
       |counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT id_a, id_b,
       |      round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
       |    FROM pairs JOIN counts na ON id_a = na.doc_id
       |               JOIN counts nb ON id_b = nb.doc_id)
       |  WHERE jaccard >= $threshold)""".stripMargin

  /** Exact-rerank tail shared by the ANN oracles: float-product cosines
    * (the Spark HOF path), round(6) before ranking, ties by vec_id. Takes
    * a `cand(query_id, vec_id)` CTE as input. */
  /** One Lloyd's iteration as DuckDB CTEs: assignment of every embedding
    * to its nearest current centroid (same cosine formula and DESC/cid
    * tie-break as the Spark argmax), then per-list per-dimension means
    * rounded to 6dp, empty lists keeping their previous centroid —
    * mirroring `Similarity.kmeansCentroids` stage by stage. */
  /** One synchronous LPA round as CTEs: neighbor-label counts, argmax
    * by (count desc, label asc), nodes with no neighbors keep their
    * label — mirroring `Graphs.labelPropagation` round for round. */
  /** One WEIGHTED integer-grid PageRank iteration as CTEs — the q314
    * share lands straight on the 1e-12 grid:
    * `floor(pr6·10^6·w / W)` per edge (HUGEINT mirrors the engine's
    * decimal(38,0) product), exact integer incoming sums. */
  private def WPageRankIterCtes(i: Int): String = {
    val (p, n) = (s"pr$i", s"pr${i + 1}")
    s"""ins$i AS (
       |  SELECT e.dst,
       |    sum(CAST((CAST(p.pr6 AS HUGEINT) * 1000000 * e.w) // e.wsum
       |      AS BIGINT)) AS in12
       |  FROM edegw e JOIN $p p ON e.src = p.node
       |  GROUP BY e.dst),
       |dang$i AS (
       |  SELECT coalesce(sum(p.pr6), 0) AS dang6
       |  FROM $p p LEFT JOIN wsum o ON p.node = o.src
       |  WHERE o.src IS NULL),
       |$n AS (
       |  SELECT p.node,
       |    (((1000000 - 850000) * CAST(1000000 AS BIGINT)) // nn.n
       |      + (850000 * (CAST(coalesce(i.in12, 0) AS HUGEINT)
       |        + (d.dang6 * 1000000) // nn.n)) // 1000000
       |      + 500000) // 1000000 AS pr6
       |  FROM $p p LEFT JOIN ins$i i ON p.node = i.dst, dang$i d, nn)""".stripMargin
  }

  /** One weighted LPA round as CTEs: neighbor votes summed by edge
    * weight, argmax (weight desc, label asc) — mirroring
    * `Graphs.weightedLabelPropagation` round for round. */
  private def WLpaIterCtes(i: Int): String =
    s"""wcnt$i AS (
       |  SELECT y.d AS id, l.lab, CAST(sum(y.w) AS BIGINT) AS wv
       |  FROM wsym y JOIN wlab${i - 1} l ON l.id = y.s
       |  GROUP BY 1, 2),
       |warg$i AS (
       |  SELECT id, lab AS newlab FROM (
       |    SELECT id, lab, row_number() OVER (
       |      PARTITION BY id ORDER BY wv DESC, lab ASC) AS rn
       |    FROM wcnt$i) WHERE rn = 1),
       |wlab$i AS (
       |  SELECT n.id, coalesce(a.newlab, n.lab) AS lab
       |  FROM wlab${i - 1} n LEFT JOIN warg$i a USING (id))""".stripMargin

  private def LpaIterCtes(i: Int): String =
    s"""cnt$i AS (
       |  SELECT y.d AS id, l.lab, count(*) AS cnt
       |  FROM sym y JOIN lab${i - 1} l ON l.id = y.s
       |  GROUP BY 1, 2),
       |arg$i AS (
       |  SELECT id, lab AS newlab FROM (
       |    SELECT id, lab, row_number() OVER (
       |      PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
       |    FROM cnt$i) WHERE rn = 1),
       |lab$i AS (
       |  SELECT n.id, coalesce(a.newlab, n.lab) AS lab
       |  FROM lab${i - 1} n LEFT JOIN arg$i a USING (id))""".stripMargin

  /** One k-core peel as CTEs: degree among current survivors, keep
    * degree >= k — mirroring `Graphs.kCore` round for round. */
  private def KCoreRoundCtes(i: Int, k: Int): String =
    s"""deg$i AS (
       |  SELECT e.src AS id, count(*) AS d
       |  FROM sym e
       |  JOIN alive${i - 1} a ON a.id = e.src
       |  JOIN alive${i - 1} b ON b.id = e.dst
       |  GROUP BY 1),
       |alive$i AS (SELECT id FROM deg$i WHERE d >= $k)""".stripMargin

  /** One greedy MMR pick as CTEs: candidates not yet selected get the
    * max similarity to the selected set, then argmax of the integer
    * `rel6 - mx` with ties by smallest id — mirroring
    * `Retrieval.mmrRerank` round for round. */
  private def MmrPickCtes(r: Int): String =
    s"""pen$r AS (
       |  SELECT c.query_id, c.vec_id, c.rel6, max(p.sim6) AS mx
       |  FROM pool c
       |  JOIN psim p ON p.query_id = c.query_id AND p.a = c.vec_id
       |  JOIN selu${r - 1} s ON s.query_id = p.query_id AND s.vec_id = p.b
       |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} s2
       |    WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id)
       |  GROUP BY 1, 2, 3),
       |sel$r AS (
       |  SELECT query_id, CAST($r AS BIGINT) AS pick, vec_id, score FROM (
       |    SELECT query_id, vec_id, rel6 - mx AS score,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY rel6 - mx DESC, vec_id ASC) AS rn
       |    FROM pen$r) WHERE rn = 1),
       |selu$r AS (SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM sel$r)""".stripMargin

  /** One integer-grid PageRank iteration as CTEs — the exact BIGINT
    * fold `operators.PageRank.run` evaluates (per-edge round-half-up
    * share, exact integer incoming/dangling sums, damped update on the
    * documented 1e-12 grids; HUGEINT mirrors the engine's
    * decimal(38,0) product), so iteration k is bit-identical on both
    * engines under ANY summation order. */
  /** Oracle for q310_ppr: the q106 iteration CTEs with the restart
    * (and dangling) mass routed to the seed set — `[v∈S]/|S|` replaces
    * every `1/n` term; same integer grids. */
  private def PprIterCtes(i: Int, k: Int): String = {
    val (p, n) = (s"pr$i", s"pr${i + 1}")
    s"""ins$i AS (
       |  SELECT e.dst, sum((2 * p.pr6 + e.outdeg) // (2 * e.outdeg)) AS in6
       |  FROM edeg e JOIN $p p ON e.src = p.node
       |  GROUP BY e.dst),
       |dang$i AS (
       |  SELECT coalesce(sum(p.pr6), 0) AS dang6
       |  FROM $p p LEFT JOIN outdeg o ON p.node = o.src
       |  WHERE o.src IS NULL),
       |$n AS (
       |  SELECT p.node,
       |    (CASE WHEN s.node IS NOT NULL
       |        THEN ((1000000 - 850000) * CAST(1000000 AS BIGINT)) // $k ELSE 0 END
       |      + (850000 * (CAST(coalesce(i.in6, 0) AS HUGEINT) * 1000000
       |        + CASE WHEN s.node IS NOT NULL
       |            THEN (d.dang6 * 1000000) // $k ELSE 0 END)) // 1000000
       |      + 500000) // 1000000 AS pr6
       |  FROM $p p LEFT JOIN ins$i i ON p.node = i.dst
       |  LEFT JOIN seeds s ON s.node = p.node, dang$i d)""".stripMargin
  }

  private def PageRankIterCtes(i: Int): String = {
    val (p, n) = (s"pr$i", s"pr${i + 1}")
    s"""ins$i AS (
       |  SELECT e.dst, sum((2 * p.pr6 + e.outdeg) // (2 * e.outdeg)) AS in6
       |  FROM edeg e JOIN $p p ON e.src = p.node
       |  GROUP BY e.dst),
       |dang$i AS (
       |  SELECT coalesce(sum(p.pr6), 0) AS dang6
       |  FROM $p p LEFT JOIN outdeg o ON p.node = o.src
       |  WHERE o.src IS NULL),
       |$n AS (
       |  SELECT p.node,
       |    (((1000000 - 850000) * CAST(1000000 AS BIGINT)) // nn.n
       |      + (850000 * (CAST(coalesce(i.in6, 0) AS HUGEINT) * 1000000
       |        + (d.dang6 * 1000000) // nn.n)) // 1000000
       |      + 500000) // 1000000 AS pr6
       |  FROM $p p LEFT JOIN ins$i i ON p.node = i.dst, dang$i d, nn)""".stripMargin
  }

  private def KmeansIterCtes(i: Int): String = {
    val (cin, asn, asg, mean, cout) =
      (s"cents$i", s"kasn$i", s"kasg$i", s"kmean$i", s"cents${i + 1}")
    s"""$asn AS (
       |  SELECT e.vec_id, c2.cid,
       |    (SELECT sum(CAST(x AS DOUBLE) * y)
       |     FROM (SELECT unnest(e.embedding) AS x, unnest(c2.cv) AS y)) AS dot,
       |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
       |     FROM (SELECT unnest(e.embedding) AS x)) AS ne,
       |    (SELECT sum(y * y) FROM (SELECT unnest(c2.cv) AS y)) AS nc
       |  FROM embeddings e, $cin c2),
       |$asg AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY
       |        CASE WHEN sqrt(ne) * sqrt(nc) > 0
       |             THEN dot / (sqrt(ne) * sqrt(nc)) ELSE 0.0 END DESC,
       |        cid ASC) AS rn
       |    FROM $asn) WHERE rn = 1),
       |$mean AS (
       |  SELECT a.list_id AS cid, t.i AS pos,
       |    round(avg(CAST(e.embedding[t.i + 1] AS DOUBLE)), 6) AS m
       |  FROM $asg a JOIN embeddings e USING (vec_id),
       |       LATERAL (SELECT unnest(range(64)) AS i) t
       |  GROUP BY 1, 2),
       |$cout AS (
       |  SELECT c.cid, coalesce(m.mv, c.cv) AS cv
       |  FROM $cin c LEFT JOIN (
       |    SELECT cid, list(m ORDER BY pos) AS mv FROM $mean GROUP BY cid) m
       |  USING (cid))""".stripMargin
  }

  private val CosineRankTail: String =
    """scored AS (
      |  SELECT c.query_id, c.vec_id,
      |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0 THEN dot / (sqrt(nq) * sqrt(nc))
      |               ELSE 0.0 END, 6) AS cosine
      |  FROM (
      |    SELECT c.query_id, c.vec_id,
      |      (SELECT sum(CAST(x * y AS DOUBLE))
      |       FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) AS dot,
      |      (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x)) AS nq,
      |      (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)) AS nc
      |    FROM cand c
      |    JOIN embeddings q ON q.vec_id = c.query_id
      |    JOIN embeddings e ON e.vec_id = c.vec_id) c)
      |SELECT query_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT query_id, vec_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
      |  FROM scored) WHERE rn <= 10""".stripMargin

  /** Sign-bucket expression over `e.embedding` with the Spark side's
    * exact hyperplane constants inlined (bit p = sign of the
    * double-widened dot, the zero-vector case included). When `normalize`
    * is set, each element is divided by the vector norm first — the exact
    * fp computation `embeddingNearDup` buckets (sign equality with the
    * raw dot is only mathematical; a plane dot within rounding error of
    * zero could land on either side, so the oracle mirrors the actual
    * arithmetic; `e.nsq` must be in scope). */
  /** Oracle for q302_dbscan: the two-table sign-LSH buckets (same
    * literal hyperplanes via BucketExprSql), exact 6dp cosine rescore,
    * degree threshold, a recursive-CTE transitive closure for the
    * core–core components (min reachable id = the star-contraction
    * representative), and the smallest-core-neighbor border rule. */
  private def DbscanOracle(planes: Int, tau: String, minPts: Int): String = {
    val nKeys = 1 << planes
    s"""WITH RECURSIVE emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings),
       |cb AS MATERIALIZED (
       |  SELECT vec_id, ${BucketExprSql(nPlanes = planes * 2)} AS b
       |  FROM emb e),
       |ck AS MATERIALIZED (
       |  SELECT vec_id, 0 AS tbl, b % $nKeys AS key FROM cb
       |  UNION ALL SELECT vec_id, 1, b // $nKeys FROM cb),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, (SELECT sum(CAST(x * x AS DOUBLE))
       |    FROM (SELECT unnest(embedding) AS x)) AS nsq
       |  FROM emb),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM ck a JOIN ck b ON b.tbl = a.tbl AND b.key = a.key
       |    AND a.vec_id < b.vec_id),
       |pairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      round(CASE WHEN sqrt(na.nsq) * sqrt(nb.nsq) > 0 THEN
       |        (SELECT sum(CAST(x * y AS DOUBLE))
       |         FROM (SELECT unnest(a.embedding) AS x,
       |               unnest(b.embedding) AS y))
       |        / (sqrt(na.nsq) * sqrt(nb.nsq)) ELSE 0.0 END, 6) AS cos
       |    FROM cand c
       |    JOIN emb a ON a.vec_id = c.id_a
       |    JOIN emb b ON b.vec_id = c.id_b
       |    JOIN nrm na ON na.vec_id = c.id_a
       |    JOIN nrm nb ON nb.vec_id = c.id_b)
       |  WHERE cos >= $tau),
       |sym AS MATERIALIZED (
       |  SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |core AS MATERIALIZED (
       |  SELECT id_a AS vec_id FROM sym GROUP BY 1
       |  HAVING count(*) >= $minPts),
       |edges AS MATERIALIZED (
       |  SELECT p.id_a AS src, p.id_b AS dst FROM pairs p
       |  JOIN core c1 ON c1.vec_id = p.id_a
       |  JOIN core c2 ON c2.vec_id = p.id_b
       |  UNION ALL
       |  SELECT p.id_b, p.id_a FROM pairs p
       |  JOIN core c1 ON c1.vec_id = p.id_a
       |  JOIN core c2 ON c2.vec_id = p.id_b),
       |reach(id, r) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |corecl AS MATERIALIZED (
       |  SELECT c.vec_id, coalesce(cl.cluster_id, c.vec_id) AS cluster_id
       |  FROM core c LEFT JOIN cl ON cl.id = c.vec_id),
       |bord AS MATERIALIZED (
       |  SELECT s.id_a AS vec_id, min(k.cluster_id) AS cluster_id
       |  FROM sym s JOIN corecl k ON k.vec_id = s.id_b
       |  WHERE s.id_a NOT IN (SELECT vec_id FROM core)
       |  GROUP BY 1),
       |tag AS (
       |  SELECT vec_id, 'core' AS role, cluster_id FROM corecl
       |  UNION ALL SELECT vec_id, 'border', cluster_id FROM bord)
       |SELECT e.vec_id, coalesce(t.role, 'noise') AS role,
       |  CAST(coalesce(t.cluster_id, -1) AS BIGINT) AS cluster_id
       |FROM emb e LEFT JOIN tag t ON t.vec_id = e.vec_id""".stripMargin
  }

  private def BucketExprSql(normalize: Boolean = false,
                            nPlanes: Int = 4): String = {
    val planes = operators.Similarity.planeRows(64, nPlanes)
    val elem =
      if (normalize)
        "(CASE WHEN e.nsq > 0 THEN CAST(x AS DOUBLE) / sqrt(e.nsq) ELSE CAST(x AS DOUBLE) END)"
      else "CAST(x AS DOUBLE)"
    def dotP(p: Array[Double]): String = {
      val lit = p.map(_.toString).mkString("[", ", ", "]")
      s"(SELECT sum($elem * y) FROM (SELECT unnest(e.embedding) AS x, unnest($lit) AS y))"
    }
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotP(p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Oracle for q289_rake_keywords: the RAKE pipeline replayed with the
    * SAME stopword literals (TextAnalysis.StopwordTable is the single
    * source of truth) and the same integer word-score division. */
  private def RakeOracle(maxPhraseLen: Int, topK: Int): String = {
    val stops = graft.functions.TextAnalysis.StopwordTable
      .flatMap(_._2).distinct.sorted
      .map(w => s"'$w'").mkString(", ")
    s"""WITH toks0 AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, i.i AS pos, arr[i.i] AS w
       |  FROM toks0, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) i
       |  WHERE arr[i.i] <> ''),
       |ph AS (
       |  SELECT doc_id, pos, w,
       |    sum(CASE WHEN w IN ($stops) THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
       |  FROM toks),
       |inph AS (SELECT * FROM ph WHERE w NOT IN ($stops)),
       |wl AS (
       |  SELECT *, CAST(count(*) OVER (PARTITION BY doc_id, pid)
       |    AS BIGINT) AS plen
       |  FROM inph),
       |wf AS (SELECT * FROM wl WHERE plen <= $maxPhraseLen),
       |st AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |  CAST(sum(plen) AS BIGINT) AS deg FROM wf GROUP BY 1),
       |ws AS (SELECT w, (deg * 1000000) // freq AS ws6 FROM st),
       |phr AS (
       |  SELECT wf.doc_id, wf.pid,
       |    string_agg(wf.w, ' ' ORDER BY wf.pos) AS phrase,
       |    CAST(max(wf.plen) AS BIGINT) AS plen,
       |    CAST(sum(ws.ws6) AS BIGINT) AS s6
       |  FROM wf JOIN ws ON ws.w = wf.w GROUP BY 1, 2)
       |SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
       |  CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(max(s6) AS DOUBLE) / 1000000 AS score
       |FROM phr GROUP BY 1
       |ORDER BY max(s6) DESC, phrase LIMIT $topK""".stripMargin
  }

  /** Oracle for q290_benford: same digit extraction from the cents
    * string, the SAME driver-computed 6dp expectation literals
    * (Validate.BenfordP6 — no engine evaluates log10), per-digit
    * integerized chi² terms. */
  /** WITH-body CTE chain ending in `sc(doc_id, lang_label, cand, s9)`
    * — the q283 Naive Bayes language-ID refit + per-candidate scoring
    * replayed in SQL (LangModel.naiveBayesScores), shared by the q283
    * confusion board, the q294 kappa oracle, and the q299 label-error
    * queue. */
  private def NbScoreCtes: String =
    """tk AS (
      |  SELECT doc_id, lang AS lang_label, w FROM (
      |    SELECT doc_id, lang,
      |      unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE w <> ''),
      |cnt AS (SELECT lang_label AS cand, w, CAST(count(*) AS BIGINT) AS c
      |  FROM tk GROUP BY 1, 2),
      |tot AS (SELECT lang_label AS cand, CAST(count(*) AS BIGINT) AS t
      |  FROM tk GROUP BY 1),
      |vocab AS (SELECT DISTINCT w FROM tk),
      |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
      |lp AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS d
      |  FROM documents GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |grid AS (
      |  SELECT t.cand, vo.w,
      |    CAST(floor(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
      |        / CAST(t.t + vv.v AS DOUBLE)) * 1000000000 + 0.5)
      |      AS BIGINT) AS term9
      |  FROM vocab vo CROSS JOIN tot t CROSS JOIN vv
      |  LEFT JOIN cnt c ON c.cand = t.cand AND c.w = vo.w),
      |pri AS (
      |  SELECT lp.cand,
      |    CAST(floor(ln(CAST(lp.d AS DOUBLE) / CAST(nn.n AS DOUBLE))
      |      * 1000000000 + 0.5) AS BIGINT) AS prior9
      |  FROM lp, nn),
      |dt AS (SELECT doc_id, lang_label, w, CAST(count(*) AS BIGINT) AS n_dw
      |  FROM tk GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT s.doc_id, s.lang_label, s.cand, s.sw9 + p.prior9 AS s9
      |  FROM (SELECT dt.doc_id, dt.lang_label, g.cand,
      |          sum(dt.n_dw * g.term9) AS sw9
      |        FROM dt JOIN grid g ON g.w = dt.w GROUP BY 1, 2, 3) s
      |  JOIN pri p ON p.cand = s.cand)""".stripMargin

  /** [[NbScoreCtes]] extended with the argmax:
    * `nbguess(doc_id, lang_label, lang_guess)`. */
  private def NbGuessCtes: String =
    NbScoreCtes + """,
      |nbguess AS (
      |  SELECT doc_id, lang_label, cand AS lang_guess FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY s9 DESC, cand ASC) AS rn FROM sc) WHERE rn = 1)""".stripMargin

  /** Oracle CTEs for q312_char_langid: the NbScoreCtes model with the
    * char-3..5-gram tokenizer over 60-char-truncated docs — truncate
    * THEN lower, the engine's order (Unicode case mapping after the
    * cut, so both engines window the same string). Ends in
    * `cnbguess(doc_id, lang_label, lang_guess)`. */
  private def CharNbGuessCtes: String =
    """ctk AS (
      |  SELECT doc_id, lang AS lang_label, substr(t, i.i, n.n) AS w
      |  FROM (SELECT doc_id, lang, lower(substr(text, 1, 60)) AS t
      |        FROM documents) d,
      |    (SELECT unnest([3, 4, 5]) AS n) n,
      |    LATERAL (SELECT unnest(range(1, len(d.t) - n.n + 2)) AS i) i
      |  WHERE len(d.t) >= n.n),
      |ccnt AS (SELECT lang_label AS cand, w, CAST(count(*) AS BIGINT) AS c
      |  FROM ctk GROUP BY 1, 2),
      |ctot AS (SELECT lang_label AS cand, CAST(count(*) AS BIGINT) AS t
      |  FROM ctk GROUP BY 1),
      |cvocab AS (SELECT DISTINCT w FROM ctk),
      |cvv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cvocab),
      |clp AS (SELECT lang AS cand, CAST(count(*) AS BIGINT) AS d
      |  FROM documents GROUP BY 1),
      |cnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |cgrid AS (
      |  SELECT t.cand, vo.w,
      |    CAST(floor(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
      |        / CAST(t.t + cvv.v AS DOUBLE)) * 1000000000 + 0.5)
      |      AS BIGINT) AS term9
      |  FROM cvocab vo CROSS JOIN ctot t CROSS JOIN cvv
      |  LEFT JOIN ccnt c ON c.cand = t.cand AND c.w = vo.w),
      |cpri AS (
      |  SELECT clp.cand,
      |    CAST(floor(ln(CAST(clp.d AS DOUBLE) / CAST(cnn.n AS DOUBLE))
      |      * 1000000000 + 0.5) AS BIGINT) AS prior9
      |  FROM clp, cnn),
      |cdt AS (SELECT doc_id, lang_label, w, CAST(count(*) AS BIGINT) AS n_dw
      |  FROM ctk GROUP BY 1, 2, 3),
      |csc AS (
      |  SELECT s.doc_id, s.lang_label, s.cand, s.sw9 + p.prior9 AS s9
      |  FROM (SELECT cdt.doc_id, cdt.lang_label, g.cand,
      |          sum(cdt.n_dw * g.term9) AS sw9
      |        FROM cdt JOIN cgrid g ON g.w = cdt.w GROUP BY 1, 2, 3) s
      |  JOIN cpri p ON p.cand = s.cand),
      |cnbguess AS (
      |  SELECT doc_id, lang_label, cand AS lang_guess FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY s9 DESC, cand ASC) AS rn FROM csc) WHERE rn = 1)""".stripMargin

  /** Oracle for q313_unigram_lm: REPLAYS UnigramLm.emTrain — the
    * substring seed, each EM round's forward and backward Viterbi DPs
    * as unrolled per-level CTEs (level i = best 9dp score for a
    * prefix/suffix of i chars; only words long enough appear at a
    * level, and single-char pieces are never pruned so every level is
    * totally reachable), the forward-backward path-membership counts,
    * and the prune + re-smooth per round. Pure integer DP sums and
    * floor-grid ln's — bit-identical to the engine's fold expressions
    * under any execution shape. */
  private def UnigramLmOracle(iters: Int, maxPieceLen: Int, maxWordLen: Int,
                              seedK: Int, keepK: Int): String = {
    val L = maxPieceLen
    val W = maxWordLen
    def keepCtes(t: Int, est: String, k: Int): String =
      s"""keep$t AS MATERIALIZED (
         |  SELECT p, cnt FROM $est WHERE len(p) = 1
         |  UNION ALL
         |  SELECT p, cnt FROM (
         |    SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p ASC)
         |      AS rn FROM $est WHERE len(p) >= 2) WHERE rn <= $k),
         |tv$t AS (SELECT CAST(sum(cnt) AS BIGINT) AS t,
         |  CAST(count(*) AS BIGINT) AS v FROM keep$t),
         |v$t AS MATERIALIZED (
         |  SELECT p, cnt AS n_est,
         |    CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))
         |      * 1000000000 + 0.5) AS BIGINT) AS lp9
         |  FROM keep$t, tv$t)""".stripMargin
    def fwdLevel(t: Int, i: Int): String = {
      val union = (math.max(0, i - L) until i)
        .map(j => s"SELECT w, s9, $j AS jj FROM f${t}_$j")
        .mkString("\n    UNION ALL ")
      s"""f${t}_$i AS MATERIALIZED (
         |  SELECT u.w, max(u.s9 + v.lp9) AS s9 FROM (
         |    $union) u
         |  JOIN wlen ww ON ww.w = u.w AND ww.wl >= $i
         |  JOIN v${t - 1} v ON v.p = substr(u.w, u.jj + 1, $i - u.jj)
         |  GROUP BY 1)""".stripMargin
    }
    def bwdLevel(t: Int, k: Int): String = {
      val union = (1 to math.min(L, k))
        .map(l => s"SELECT w, s9, $l AS ll FROM b${t}_${k - l}")
        .mkString("\n    UNION ALL ")
      s"""b${t}_$k AS MATERIALIZED (
         |  SELECT u.w, max(u.s9 + v.lp9) AS s9 FROM (
         |    $union) u
         |  JOIN wlen ww ON ww.w = u.w AND ww.wl >= $k
         |  JOIN v${t - 1} v ON v.p = substr(u.w, ww.wl - $k + 1, u.ll)
         |  GROUP BY 1)""".stripMargin
    }
    def emIter(t: Int): String = {
      val zero = s"SELECT w, CAST(0 AS BIGINT) AS s9 FROM wlen"
      val fa = (0 to W).map(i => s"SELECT w, $i AS i, s9 FROM f${t}_$i")
        .mkString("\n  UNION ALL ")
      val ba = (0 to W).map(k => s"SELECT w, $k AS k, s9 FROM b${t}_$k")
        .mkString("\n  UNION ALL ")
      s"""f${t}_0 AS ($zero),
         |${(1 to W).map(i => fwdLevel(t, i)).mkString(",\n")},
         |b${t}_0 AS ($zero),
         |${(1 to W).map(k => bwdLevel(t, k)).mkString(",\n")},
         |fa$t AS MATERIALIZED ($fa),
         |ba$t AS MATERIALIZED ($ba),
         |cnt$t AS MATERIALIZED (
         |  SELECT o.p, CAST(sum(o.f) AS BIGINT) AS cnt
         |  FROM occ o
         |  JOIN v${t - 1} v ON v.p = o.p
         |  JOIN fa$t fs ON fs.w = o.w AND fs.i = o.s - 1
         |  JOIN ba$t bs ON bs.w = o.w AND bs.k = o.wl - o.s + 1 - o.l
         |  JOIN fa$t ft ON ft.w = o.w AND ft.i = o.wl
         |  WHERE fs.s9 + v.lp9 + bs.s9 = ft.s9
         |  GROUP BY 1),
         |est$t AS (
         |  SELECT v.p, coalesce(c.cnt, 0) AS cnt
         |  FROM v${t - 1} v LEFT JOIN cnt$t c ON c.p = v.p),
         |${keepCtes(t, s"est$t", keepK)}""".stripMargin
    }
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(sum(cnt) AS BIGINT) AS f FROM (
       |    SELECT substr(word, 1, $W) AS w, cnt FROM (
       |      SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
       |          AS t FROM documents) WHERE t <> '' GROUP BY 1))
       |  GROUP BY 1),
       |wlen AS MATERIALIZED (
       |  SELECT w, f, CAST(len(w) AS INTEGER) AS wl FROM words),
       |occ AS MATERIALIZED (
       |  SELECT o.w, o.f, o.wl, s.s AS s, l.l AS l,
       |    substr(o.w, s.s, l.l) AS p
       |  FROM wlen o,
       |    LATERAL (SELECT unnest(range(1, o.wl + 1)) AS s) s,
       |    LATERAL (SELECT unnest(range(1, least($L, o.wl - s.s + 1) + 1))
       |      AS l) l),
       |scnt AS MATERIALIZED (
       |  SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM occ GROUP BY 1),
       |${keepCtes(0, "scnt", seedK)},
       |${(1 to iters).map(emIter).mkString(",\n")}"""
      .stripMargin
  }

  private def UnigramLmOracleSelect(iters: Int, maxPieceLen: Int,
                                    maxWordLen: Int, seedK: Int,
                                    keepK: Int): String =
    UnigramLmOracle(iters, maxPieceLen, maxWordLen, seedK, keepK) +
      s"\nSELECT p AS piece, CAST(n_est AS BIGINT) AS n_est, lp9 FROM v$iters"

  /** Oracle for q316_tokenizer_budget: the full q313 training replay
    * plus the Viterbi ENCODE under the final vocabulary — a fresh
    * forward DP per word (unrolled levels, now scored by v{iters}),
    * the min-split-point rule at every position (`bj` CTEs — the
    * engine expression's longest-final-piece tie-break), and the
    * unrolled backtrace chain counting pieces per word. */
  private def TokenizerBudgetOracle(iters: Int, maxPieceLen: Int,
                                    maxWordLen: Int, seedK: Int,
                                    keepK: Int): String = {
    val L = maxPieceLen
    val W = maxWordLen
    val vf = s"v$iters"
    def fwd(i: Int): String = {
      val union = (math.max(0, i - L) until i)
        .map(j => s"SELECT w, s9, $j AS jj FROM e_$j")
        .mkString("\n    UNION ALL ")
      s"""e_$i AS MATERIALIZED (
         |  SELECT u.w, max(u.s9 + v.lp9) AS s9 FROM (
         |    $union) u
         |  JOIN wlen ww ON ww.w = u.w AND ww.wl >= $i
         |  JOIN $vf v ON v.p = substr(u.w, u.jj + 1, $i - u.jj)
         |  GROUP BY 1)""".stripMargin
    }
    def bj(i: Int): String = {
      val union = (math.max(0, i - L) until i)
        .map(j => s"SELECT w, s9, $j AS jj FROM e_$j")
        .mkString("\n    UNION ALL ")
      s"""bj_$i AS MATERIALIZED (
         |  SELECT u.w, min(u.jj) AS bj FROM (
         |    $union) u
         |  JOIN wlen ww ON ww.w = u.w AND ww.wl >= $i
         |  JOIN $vf v ON v.p = substr(u.w, u.jj + 1, $i - u.jj)
         |  JOIN e_$i t ON t.w = u.w
         |  WHERE u.s9 + v.lp9 = t.s9
         |  GROUP BY 1)""".stripMargin
    }
    def chain(s: Int): String =
      s"""c$s AS MATERIALIZED (
         |  SELECT c.w, b.bj AS pos, c.np + 1 AS np
         |  FROM c${s - 1} c JOIN bja b ON b.w = c.w AND b.i = c.pos
         |  WHERE c.pos > 0)""".stripMargin
    val bja = (1 to W).map(i => s"SELECT w, $i AS i, bj FROM bj_$i")
      .mkString("\n  UNION ALL ")
    val chains = (0 to W).map(s => s"SELECT w, pos, np FROM c$s")
      .mkString("\n    UNION ALL ")
    UnigramLmOracle(iters, maxPieceLen, maxWordLen, seedK, keepK) + s""",
       |e_0 AS (SELECT w, CAST(0 AS BIGINT) AS s9 FROM wlen),
       |${(1 to W).map(fwd).mkString(",\n")},
       |${(1 to W).map(bj).mkString(",\n")},
       |bja AS MATERIALIZED (
       |  $bja),
       |c0 AS (SELECT w, wl AS pos, CAST(0 AS BIGINT) AS np FROM wlen),
       |${(1 to W).map(chain).mkString(",\n")},
       |npw AS MATERIALIZED (
       |  SELECT w, CAST(max(np) AS BIGINT) AS np FROM (
       |    $chains)
       |  WHERE pos = 0 GROUP BY 1)
       |SELECT CAST(ww.wl AS BIGINT) AS wl,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(ww.f) AS BIGINT) AS n_occ,
       |  CAST(sum(n.np) AS BIGINT) AS pieces_types,
       |  CAST(sum(n.np * ww.f) AS BIGINT) AS pieces_occ,
       |  CAST((sum(n.np) * 1000000) // count(*) AS BIGINT)
       |    AS pieces_per_type6,
       |  CAST((sum(n.np * ww.f) * 1000000) // sum(ww.f) AS BIGINT)
       |    AS pieces_per_occ6
       |FROM npw n JOIN wlen ww ON ww.w = n.w
       |GROUP BY 1""".stripMargin
  }

  /** CTE `hg(doc_id, lang_label, lang_guess)` — the q41/q238 stopword
    * heuristic replayed in SQL, shared by the q238 confusion board and
    * the q294 kappa oracle. */
  private def HeurGuessCte: String =
    """hg AS (
      |  SELECT doc_id, lang AS lang_label,
      |    CASE WHEN s_en > 0 AND s_en = best THEN 'en'
      |         WHEN s_es > 0 AND s_es = best THEN 'es'
      |         WHEN s_fr > 0 AND s_fr = best THEN 'fr'
      |         WHEN s_de > 0 AND s_de = best THEN 'de'
      |         ELSE 'und' END AS lang_guess
      |  FROM (SELECT doc_id, lang, s_en, s_es, s_fr, s_de,
      |          greatest(s_en, s_es, s_fr, s_de) AS best
      |        FROM (SELECT doc_id, lang,
      |          len(regexp_extract_all(lower(text), '""".stripMargin +
      LangPats("en") +
      "')) AS s_en,\n          len(regexp_extract_all(lower(text), '" +
      LangPats("es") +
      "')) AS s_es,\n          len(regexp_extract_all(lower(text), '" +
      LangPats("fr") +
      "')) AS s_fr,\n          len(regexp_extract_all(lower(text), '" +
      LangPats("de") + "')) AS s_de\n        FROM documents)))"

  /** Oracle for q295_ndcg: the q88 BM25 scorer per evaluation query,
    * graded by term coverage; gains via the same literal CASE and
    * discounts from the SAME driver-computed 9dp literals the Spark
    * plan joins (TextIndex.ndcgWeights9) — no in-plan log2 anywhere. */
  private def NdcgOracle(queries: Seq[(String, Seq[String])],
                         k: Int): String = {
    val allTerms = queries.flatMap(_._2).distinct
      .map(tm => s"'$tm'").mkString(", ")
    val qv = queries
      .flatMap { case (q, ts) => ts.map(tm => s"('$q', '$tm')") }
      .mkString(", ")
    val wv = operators.TextIndex.ndcgWeights9(k)
      .map { case (r, w) => s"($r, $w)" }.mkString(", ")
    val maxLen = queries.map(_._2.length).max
    val gainCase = (1 to maxLen)
      .map(r => s"WHEN $r THEN ${(1L << r) - 1L}").mkString(" ")
    s"""WITH toks AS (
       |  SELECT doc_id, t AS term FROM documents,
       |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
       |  WHERE t <> ''),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE term IN ($allTerms) GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |q AS (SELECT * FROM (VALUES $qv) AS q(qid, term)),
       |hits AS (
       |  SELECT q.qid, tf.doc_id,
       |    round(sum(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
       |      tf.tf * 2.2
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))), 4)
       |      AS score,
       |    CAST(count(*) AS BIGINT) AS rel
       |  FROM tf JOIN q ON q.term = tf.term JOIN df ON df.term = tf.term
       |  JOIN dlen ON dlen.doc_id = tf.doc_id CROSS JOIN stats
       |  GROUP BY 1, 2),
       |g0 AS (SELECT *, CASE rel $gainCase ELSE 0 END AS gain FROM hits),
       |g AS (SELECT *,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id ASC) AS rank,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY gain DESC, doc_id ASC) AS irank
       |  FROM g0),
       |w AS (SELECT * FROM (VALUES $wv) AS w(r, w9)),
       |nh AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM g GROUP BY 1),
       |dcg AS (SELECT qid, sum(CAST(gain AS BIGINT) * w.w9) AS dcg9 FROM g
       |  JOIN w ON w.r = g.rank WHERE g.rank <= $k GROUP BY 1),
       |idcg AS (SELECT qid, sum(CAST(gain AS BIGINT) * w.w9) AS idcg9 FROM g
       |  JOIN w ON w.r = g.irank WHERE g.irank <= $k GROUP BY 1)
       |SELECT nh.qid, nh.n_hits,
       |  round(CAST(dcg9 AS DOUBLE) / 1000000000, 6) AS dcg,
       |  round(CAST(idcg9 AS DOUBLE) / 1000000000, 6) AS idcg,
       |  round(CAST(dcg9 AS DOUBLE) / CAST(idcg9 AS DOUBLE), 6) AS ndcg
       |FROM nh JOIN dcg ON dcg.qid = nh.qid
       |JOIN idcg ON idcg.qid = nh.qid""".stripMargin
  }

  /** Oracle for q298_markov: lag pairs → 6dp integer transition grid →
    * `iters` unrolled power iterations, each an exact neighbor-sum +
    * sum-renormalization in floor division — the HitsOracle shape. */
  private def MarkovOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT p.dst AS state, sum(v.v6 * p.p6) AS raw
         |  FROM p JOIN vi${i - 1} v ON v.state = p.src GROUP BY 1),
         |f$i AS (
         |  SELECT s.state, coalesce(r$i.raw, 0) AS raw
         |  FROM states s LEFT JOIN r$i USING (state)),
         |vi$i AS (
         |  SELECT f.state, (f.raw * 1000000) // t.tot AS v6
         |  FROM f$i f, (SELECT sum(raw) AS tot FROM f$i) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT src, event_type AS dst FROM (
       |    SELECT event_type, lag(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS src
       |    FROM events) WHERE src IS NOT NULL),
       |cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs GROUP BY 1, 2),
       |rt AS (SELECT src, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
       |p AS (SELECT cnt.src, cnt.dst, cnt.n, (cnt.n * 1000000) // rt.t AS p6
       |  FROM cnt JOIN rt ON rt.src = cnt.src),
       |states AS (SELECT DISTINCT state FROM
       |  (SELECT src AS state FROM p UNION ALL SELECT dst FROM p)),
       |vi0 AS (SELECT state, CAST(1000000 AS BIGINT) AS v6 FROM states),
       |$steps
       |SELECT p.src, p.dst, p.n, CAST(p.p6 AS DOUBLE) / 1000000 AS p,
       |  CAST(v.v6 AS DOUBLE) / 1000000 AS src_pi
       |FROM p JOIN vi$iters v ON v.state = p.src""".stripMargin
  }

  private def BenfordOracle: String = {
    val ps = operators.Validate.BenfordP6.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
       |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM lineitem),
       |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
       |  WHERE digit >= 1 GROUP BY 1),
       |g AS (SELECT CAST(digit AS BIGINT) AS digit, CAST(p6 AS BIGINT) AS p6
       |  FROM (VALUES $ps) AS t(digit, p6)),
       |f AS (SELECT g.digit, g.p6, coalesce(c.n, 0) AS n
       |  FROM g LEFT JOIN c ON c.digit = g.digit),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM f),
       |per AS (
       |  SELECT digit, n, p6, (n * 1000000) // nt AS obs6,
       |    abs((n * 1000000) // nt - p6) AS dev6,
       |    CAST(floor(
       |      CAST(n * 1000000 - nt * p6 AS DOUBLE)
       |        * CAST(n * 1000000 - nt * p6 AS DOUBLE)
       |        / (CAST(nt * p6 AS DOUBLE) * 1000000)
       |      * 1000000 + 0.5) AS BIGINT) AS chi6
       |  FROM f, tot),
       |s AS (SELECT CAST(sum(dev6) // 9 AS BIGINT) AS mad6,
       |  CAST(sum(chi6) AS BIGINT) AS chi2_6 FROM per)
       |SELECT per.digit, per.n,
       |  CAST(obs6 AS DOUBLE) / 1000000 AS observed,
       |  CAST(p6 AS DOUBLE) / 1000000 AS expected,
       |  CAST(dev6 AS DOUBLE) / 1000000 AS deviation,
       |  CAST(s.mad6 AS DOUBLE) / 1000000 AS mad,
       |  CAST(s.chi2_6 AS DOUBLE) / 1000000 AS chi2
       |FROM per, s""".stripMargin
  }

  /** Oracle for q287_hits: the integer-grid HITS iterations unrolled —
    * each half-step a neighbor-sum + max-renormalization in BIGINT
    * floor division, exactly the Spark sequence. */
  private def HitsOracle(iters: Int): String = {
    def halfStep(i: Int, prev: String, joinKey: String, groupKey: String,
                 out: String): String =
      s"""${out}r AS (
         |  SELECT e.$groupKey AS node, CAST(sum($prev.sc) AS BIGINT) AS raw
         |  FROM e JOIN $prev ON $prev.node = e.$joinKey GROUP BY 1),
         |${out}f AS (
         |  SELECT n.node, coalesce(${out}r.raw, 0) AS raw
         |  FROM nodes n LEFT JOIN ${out}r USING (node)),
         |$out AS (
         |  SELECT f.node, CASE WHEN m.mx > 0 THEN (f.raw * 1000000) // m.mx
         |    ELSE 0 END AS sc
         |  FROM ${out}f f, (SELECT max(raw) AS mx FROM ${out}f) m)""".stripMargin
    val steps = (1 to iters).map { i =>
      halfStep(i, s"h${i - 1}", "s", "d", s"a$i") + ",\n" +
        halfStep(i, s"a$i", "d", "s", s"h$i")
    }.mkString(",\n")
    s"""WITH f AS (
       |  SELECT CASE WHEN count(*) > 300000 THEN 100
       |    WHEN count(*) > 30000 THEN 10 ELSE 1 END AS f
       |  FROM lineitem),
       |e0 AS (
       |  SELECT l_partkey % 1000 AS src, l_suppkey % 1000 AS dst
       |  FROM lineitem, f
       |  WHERE (l_orderkey * 31 + l_partkey) % f.f = 0),
       |e AS (SELECT DISTINCT src AS s, dst AS d FROM e0 WHERE src <> dst),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS sc FROM nodes),
       |$steps
       |SELECT h$iters.node,
       |  CAST(h$iters.sc AS DOUBLE) / 1000000 AS hub,
       |  CAST(a$iters.sc AS DOUBLE) / 1000000 AS authority
       |FROM h$iters JOIN a$iters USING (node)""".stripMargin
  }

  /** Oracle for q284_graph_ann: REPLAYS the whole pipeline in SQL —
    * the 8-plane signature (exact hyperplane literals), two bucket
    * tables, the LSH-candidate k-NN graph with `refine` unrolled
    * NN-descent rounds (fwd ∪ rev ∪ 2-hop, rescored, re-ranked), the
    * bucket-seeded beam search with `rounds` unrolled hops, and the
    * exact brute-force top-10 it is graded against. Norms are
    * precomputed once; every cosine is the proven CosineRankTail
    * arithmetic rounded to 6dp, ties to the smaller id. */
  private def GraphAnnOracle(degree: Int, refine: Int, beamWidth: Int,
                             rounds: Int): String = {
    // scored edge list from a (src, dst) candidate CTE
    def edgeTopK(in: String, out: String): String =
      s"""${out}s AS MATERIALIZED (
         |  SELECT c.src, c.dst,
         |    round(CASE WHEN sqrt(na.nsq) * sqrt(nb.nsq) > 0 THEN
         |      (SELECT sum(CAST(x * y AS DOUBLE))
         |       FROM (SELECT unnest(a.embedding) AS x,
         |             unnest(b.embedding) AS y))
         |      / (sqrt(na.nsq) * sqrt(nb.nsq)) ELSE 0.0 END, 6) AS cos
         |  FROM $in c
         |  JOIN emb a ON a.vec_id = c.src
         |  JOIN emb b ON b.vec_id = c.dst
         |  JOIN nrm na ON na.vec_id = c.src
         |  JOIN nrm nb ON nb.vec_id = c.dst),
         |$out AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY cos DESC, dst ASC) AS rn FROM ${out}s)
         |  WHERE rn <= $degree)""".stripMargin
    // per-query scored top-k from a (query_id, vec_id) candidate CTE
    def queryTopK(in: String, out: String, k: Int): String =
      s"""${out}s AS MATERIALIZED (
         |  SELECT c.query_id, c.vec_id,
         |    round(CASE WHEN sqrt(na.nsq) * sqrt(nb.nsq) > 0 THEN
         |      (SELECT sum(CAST(x * y AS DOUBLE))
         |       FROM (SELECT unnest(a.embedding) AS x,
         |             unnest(b.embedding) AS y))
         |      / (sqrt(na.nsq) * sqrt(nb.nsq)) ELSE 0.0 END, 6) AS cosine
         |  FROM $in c
         |  JOIN emb a ON a.vec_id = c.query_id
         |  JOIN emb b ON b.vec_id = c.vec_id
         |  JOIN nrm na ON na.vec_id = c.query_id
         |  JOIN nrm nb ON nb.vec_id = c.vec_id),
         |$out AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
         |      AS rn FROM ${out}s)
         |  WHERE rn <= $k)""".stripMargin
    val refineCtes = (1 to refine).map { i =>
      s"""g${i}c AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM g${i - 1}
         |    UNION ALL SELECT dst, src FROM g${i - 1}
         |    UNION ALL SELECT a.src, b.dst
         |      FROM g${i - 1} a JOIN g${i - 1} b ON b.src = a.dst)
         |  WHERE src <> dst),
         |${edgeTopK(s"g${i}c", s"g$i")}""".stripMargin
    }.mkString(",\n")
    val beamCtes = (1 to rounds).map { r =>
      s"""x$r AS MATERIALIZED (
         |  SELECT DISTINCT query_id, vec_id FROM (
         |    SELECT b.query_id, g.dst AS vec_id
         |      FROM b${r - 1} b JOIN g$refine g ON g.src = b.vec_id
         |    UNION ALL SELECT query_id, vec_id FROM b${r - 1})
         |  WHERE vec_id <> query_id),
         |${queryTopK(s"x$r", s"b$r", beamWidth)}""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings),
       |cb AS MATERIALIZED (
       |  SELECT vec_id, ${BucketExprSql(nPlanes = 8)} AS b8
       |  FROM emb e),
       |ck AS MATERIALIZED (SELECT vec_id, 0 AS tbl, b8 % 16 AS key FROM cb
       |       UNION ALL SELECT vec_id, 1, b8 // 16 FROM cb),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, (SELECT sum(CAST(x * x AS DOUBLE))
       |    FROM (SELECT unnest(embedding) AS x)) AS nsq
       |  FROM emb),
       |g0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM ck a JOIN ck b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${edgeTopK("g0c", "g0")},
       |$refineCtes,
       |sd AS MATERIALIZED (
       |  SELECT DISTINCT query_id, vec_id FROM (
       |    SELECT qk.vec_id AS query_id, c.vec_id
       |    FROM ck qk JOIN ck c ON c.tbl = qk.tbl AND c.key = qk.key
       |    WHERE qk.vec_id < 5
       |    UNION ALL
       |    SELECT q.vec_id, t.n FROM
       |      (SELECT vec_id FROM emb WHERE vec_id < 5) q,
       |      (SELECT unnest(range(0, 16)) AS n) t)
       |  WHERE vec_id <> query_id),
       |${queryTopK("sd", "b0", beamWidth)},
       |$beamCtes,
       |${queryTopK(s"b$rounds", "fin", 10)},
       |ex0 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, e.vec_id
       |  FROM emb q, emb e
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |${queryTopK("ex0", "exact", 10)},
       |hits AS MATERIALIZED (
       |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS graph_hits
       |  FROM exact e JOIN fin f ON f.query_id = e.query_id
       |    AND f.vec_id = e.vec_id
       |  GROUP BY 1),
       |agg AS MATERIALIZED (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS k,
       |    string_agg(CAST(vec_id AS VARCHAR), '|' ORDER BY vec_id)
       |      AS exact_topk
       |  FROM exact GROUP BY 1),
       |tt AS (
       |  SELECT CAST(sum(coalesce(h.graph_hits, 0)) AS BIGINT) AS gt,
       |    CAST(sum(a.k) AS BIGINT) AS kt
       |  FROM agg a LEFT JOIN hits h USING (query_id))
       |SELECT a.query_id, a.k, a.exact_topk,
       |  CAST(coalesce(h.graph_hits, 0) AS BIGINT) AS graph_hits,
       |  (CAST(coalesce(h.graph_hits, 0) AS DOUBLE) / CAST(a.k AS DOUBLE)
       |    >= 0.7) AS graph_recall_ok,
       |  (CAST(tt.gt AS DOUBLE) / CAST(tt.kt AS DOUBLE)
       |    >= 0.8) AS graph_corpus_ok
       |FROM agg a LEFT JOIN hits h USING (query_id), tt""".stripMargin
  }

  /** Scored (src, dst) edge top-k CTE pair — shared by the graph-ANN
    * oracles (q311/q317). */
  private def gannEdgeTopK(in: String, out: String, degree: Int): String =
    s"""${out}s AS MATERIALIZED (
       |  SELECT c.src, c.dst,
       |    round(CASE WHEN sqrt(na.nsq) * sqrt(nb.nsq) > 0 THEN
       |      (SELECT sum(CAST(x * y AS DOUBLE))
       |       FROM (SELECT unnest(a.embedding) AS x,
       |             unnest(b.embedding) AS y))
       |      / (sqrt(na.nsq) * sqrt(nb.nsq)) ELSE 0.0 END, 6) AS cos
       |  FROM $in c
       |  JOIN emb a ON a.vec_id = c.src
       |  JOIN emb b ON b.vec_id = c.dst
       |  JOIN nrm na ON na.vec_id = c.src
       |  JOIN nrm nb ON nb.vec_id = c.dst),
       |$out AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst ASC) AS rn FROM ${out}s)
       |  WHERE rn <= $degree)""".stripMargin

  private def gannQueryTopK(in: String, out: String, k: Int): String =
    s"""${out}s AS MATERIALIZED (
       |  SELECT c.query_id, c.vec_id,
       |    round(CASE WHEN sqrt(na.nsq) * sqrt(nb.nsq) > 0 THEN
       |      (SELECT sum(CAST(x * y AS DOUBLE))
       |       FROM (SELECT unnest(a.embedding) AS x,
       |             unnest(b.embedding) AS y))
       |      / (sqrt(na.nsq) * sqrt(nb.nsq)) ELSE 0.0 END, 6) AS cosine
       |  FROM $in c
       |  JOIN emb a ON a.vec_id = c.query_id
       |  JOIN emb b ON b.vec_id = c.vec_id
       |  JOIN nrm na ON na.vec_id = c.query_id
       |  JOIN nrm nb ON nb.vec_id = c.vec_id),
       |$out AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
       |      AS rn FROM ${out}s)
       |  WHERE rn <= $k)""".stripMargin

  private def gannNnDescent(g: String, i: Int, degree: Int): String =
    s"""$g${i}c AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM $g${i - 1}
       |    UNION ALL SELECT dst, src FROM $g${i - 1}
       |    UNION ALL SELECT a.src, b.dst
       |      FROM $g${i - 1} a JOIN $g${i - 1} b ON b.src = a.dst)
       |  WHERE src <> dst),
       |${gannEdgeTopK(s"$g${i}c", s"$g$i", degree)}""".stripMargin

  private def gannBeamRound(b: String, r: Int, g: String, width: Int): String =
    s"""${b}x$r AS MATERIALIZED (
       |  SELECT DISTINCT query_id, vec_id FROM (
       |    SELECT b.query_id, g.dst AS vec_id
       |      FROM $b${r - 1} b JOIN $g g ON g.src = b.vec_id
       |    UNION ALL SELECT query_id, vec_id FROM $b${r - 1})
       |  WHERE vec_id <> query_id),
       |${gannQueryTopK(s"${b}x$r", s"$b$r", width)}""".stripMargin

  /** Oracle for q311_graph_ann_index (and q334, which searches the
    * same build pinned at version 1): REPLAYS graphWriteVersioned +
    * layeredTopKVersioned — the full-layer graph (degree 16, 1
    * NN-descent round), the UPPER-layer graph over `vec_id % 4 = 0`
    * (degree 8, bucket-confined), the 2-round upper beam from the fixed
    * entries, the 3-round full beam seeded by the upper results ∪ LSH
    * bucket mates, and the exact top-10 board. The parquet round trip
    * the engine does between build and search is value-invariant
    * (long edge pairs), so the replay skips it. */
  private def GraphAnnIndexOracle: String = {
    def edgeTopK(in: String, out: String, degree: Int): String =
      gannEdgeTopK(in, out, degree)
    def queryTopK(in: String, out: String, k: Int): String =
      gannQueryTopK(in, out, k)
    def nnDescent(g: String, i: Int, degree: Int): String =
      gannNnDescent(g, i, degree)
    def beamRound(b: String, r: Int, g: String, width: Int): String =
      gannBeamRound(b, r, g, width)
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings),
       |cb AS MATERIALIZED (
       |  SELECT vec_id, ${BucketExprSql(nPlanes = 8)} AS b8
       |  FROM emb e),
       |ck AS MATERIALIZED (SELECT vec_id, 0 AS tbl, b8 % 16 AS key FROM cb
       |       UNION ALL SELECT vec_id, 1, b8 // 16 FROM cb),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, (SELECT sum(CAST(x * x AS DOUBLE))
       |    FROM (SELECT unnest(embedding) AS x)) AS nsq
       |  FROM emb),
       |g0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM ck a JOIN ck b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${edgeTopK("g0c", "g0", 16)},
       |${nnDescent("g", 1, 16)},
       |uk AS MATERIALIZED (SELECT * FROM ck WHERE vec_id % 4 = 0),
       |u0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM uk a JOIN uk b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${edgeTopK("u0c", "u0", 8)},
       |us AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, t.n AS vec_id FROM
       |    (SELECT vec_id FROM emb WHERE vec_id < 5) q,
       |    (SELECT unnest([0, 4, 8, 12]) AS n) t
       |  WHERE t.n <> q.vec_id),
       |${queryTopK("us", "ub0", 16)},
       |${beamRound("ub", 1, "u0", 16)},
       |${beamRound("ub", 2, "u0", 16)},
       |fs AS MATERIALIZED (
       |  SELECT DISTINCT query_id, vec_id FROM (
       |    SELECT query_id, vec_id FROM ub2
       |    UNION ALL
       |    SELECT qk.vec_id AS query_id, c.vec_id
       |    FROM ck qk JOIN ck c ON c.tbl = qk.tbl AND c.key = qk.key
       |    WHERE qk.vec_id < 5 AND c.vec_id <> qk.vec_id)),
       |${queryTopK("fs", "b0", 48)},
       |${beamRound("b", 1, "g1", 48)},
       |${beamRound("b", 2, "g1", 48)},
       |${beamRound("b", 3, "g1", 48)},
       |${queryTopK("b3", "fin", 10)},
       |ex0 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, e.vec_id
       |  FROM emb q, emb e
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |${queryTopK("ex0", "exact", 10)},
       |hits AS MATERIALIZED (
       |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS index_hits
       |  FROM exact e JOIN fin f ON f.query_id = e.query_id
       |    AND f.vec_id = e.vec_id
       |  GROUP BY 1),
       |agg AS MATERIALIZED (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS k,
       |    string_agg(CAST(vec_id AS VARCHAR), '|' ORDER BY vec_id)
       |      AS exact_topk
       |  FROM exact GROUP BY 1),
       |tt AS (
       |  SELECT CAST(sum(coalesce(h.index_hits, 0)) AS BIGINT) AS gt,
       |    CAST(sum(a.k) AS BIGINT) AS kt
       |  FROM agg a LEFT JOIN hits h USING (query_id))
       |SELECT a.query_id, a.k, a.exact_topk,
       |  CAST(coalesce(h.index_hits, 0) AS BIGINT) AS index_hits,
       |  (CAST(coalesce(h.index_hits, 0) AS DOUBLE) / CAST(a.k AS DOUBLE)
       |    >= 0.7) AS layer_recall_ok,
       |  (CAST(tt.gt AS DOUBLE) / CAST(tt.kt AS DOUBLE)
       |    >= 0.9) AS layer_corpus_ok
       |FROM agg a LEFT JOIN hits h USING (query_id), tt""".stripMargin
  }

  /** Oracle for q326_mmr_rerank: the brute-force candidate pass, the
    * candidate-pairwise 6dp-integer sim grid, then the `k` greedy MMR
    * rounds UNROLLED — round i excludes the i-1 picks, aggregates each
    * survivor's max sim to the picked set, scores the exact integer
    * `λ6·rel6 − (1e6−λ6)·msim6` and picks the (score desc, id asc)
    * argmax, exactly the Spark loop. */
  private def MmrOracle(k: Int, lambda6: Long, candK: Int): String = {
    val mu = 1000000L - lambda6
    def picksThrough(i: Int): String =
      (1 to i).map(j => s"SELECT query_id, vec_id FROM p$j")
        .mkString(" UNION ALL ")
    val rounds = (2 to k).map { i =>
      s"""ms$i AS (
         |  SELECT s.query_id, s.a AS vec_id, max(s.sim6) AS msim6
         |  FROM sims s JOIN (${picksThrough(i - 1)}) p
         |    ON p.query_id = s.query_id AND p.vec_id = s.b
         |  GROUP BY 1, 2),
         |sc$i AS (
         |  SELECT c.query_id, c.vec_id,
         |    c.rel6 * $lambda6 - m.msim6 * $mu AS mmr12
         |  FROM cand c
         |  JOIN ms$i m ON m.query_id = c.query_id AND m.vec_id = c.vec_id
         |  LEFT JOIN (${picksThrough(i - 1)}) q
         |    ON q.query_id = c.query_id AND q.vec_id = c.vec_id
         |  WHERE q.vec_id IS NULL),
         |p$i AS (
         |  SELECT query_id, vec_id, mmr12 FROM (
         |    SELECT query_id, vec_id, mmr12, row_number() OVER (
         |      PARTITION BY query_id ORDER BY mmr12 DESC, vec_id ASC) AS rn
         |    FROM sc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(j =>
      s"SELECT query_id, vec_id, mmr12, $j AS rank FROM p$j")
      .mkString("\n  UNION ALL ")
    s"""WITH scoredq AS (
       |  SELECT query_id, vec_id,
       |    round(CASE WHEN sqrt(nq) * sqrt(nc) > 0
       |      THEN dot / (sqrt(nq) * sqrt(nc)) ELSE 0.0 END, 6) AS cosine
       |  FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id,
       |      (SELECT sum(CAST(x * y AS DOUBLE))
       |       FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) AS dot,
       |      (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x)) AS nq,
       |      (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y)) AS nc
       |    FROM embeddings q, embeddings e
       |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)),
       |cand AS MATERIALIZED (
       |  SELECT query_id, vec_id,
       |    CAST(floor(cosine * 1e6 + 0.5) AS BIGINT) AS rel6
       |  FROM (
       |    SELECT query_id, vec_id, cosine, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
       |    FROM scoredq)
       |  WHERE rn <= $candK),
       |sims0 AS (
       |  SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
       |    (SELECT sum(CAST(x * y AS DOUBLE))
       |     FROM (SELECT unnest(ea.embedding) AS x, unnest(eb.embedding) AS y)) AS dot,
       |    (SELECT sum(CAST(x * x AS DOUBLE)) FROM (SELECT unnest(ea.embedding) AS x)) AS na,
       |    (SELECT sum(CAST(y * y AS DOUBLE)) FROM (SELECT unnest(eb.embedding) AS y)) AS nb
       |  FROM cand a
       |  JOIN cand b ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |sims AS MATERIALIZED (
       |  SELECT query_id, a, b,
       |    CAST(floor(round(CASE WHEN sqrt(na) * sqrt(nb) > 0
       |      THEN dot / (sqrt(na) * sqrt(nb)) ELSE 0.0 END, 6) * 1e6 + 0.5)
       |      AS BIGINT) AS sim6
       |  FROM sims0),
       |p1 AS (
       |  SELECT query_id, vec_id, rel6 * $lambda6 AS mmr12 FROM (
       |    SELECT query_id, vec_id, rel6, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel6 * $lambda6 DESC, vec_id ASC)
       |      AS rn
       |    FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT query_id, vec_id, CAST(mmr12 AS BIGINT) AS mmr12,
       |  CAST(rank AS BIGINT) AS rank
       |FROM ($unionAll)""".stripMargin
  }

  /** Shared oracle for the cheap-profile (refine 0) graph-ANN searches
    * with a final-beam survivor filter: REPLAYS graphWriteVersioned
    * (bucket-confined g0/u0 only), the 1-round upper beam from the
    * fixed entries, the `beamWidth`-wide 2-round full beam, then keeps
    * only beam members satisfying `liveCond` (they all still ROUTED
    * every round) re-ranked 1..k — the soft-delete (q325) and
    * filtered-search (q329) contracts differ only in the condition. */
  private def GraphAnnCheapSearchOracle(beamWidth: Int, liveCond: String,
                                        k: Int): String = {
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings),
       |cb AS MATERIALIZED (
       |  SELECT vec_id, ${BucketExprSql(nPlanes = 8)} AS b8
       |  FROM emb e),
       |ck AS MATERIALIZED (SELECT vec_id, 0 AS tbl, b8 % 16 AS key FROM cb
       |       UNION ALL SELECT vec_id, 1, b8 // 16 FROM cb),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, (SELECT sum(CAST(x * x AS DOUBLE))
       |    FROM (SELECT unnest(embedding) AS x)) AS nsq
       |  FROM emb),
       |g0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM ck a JOIN ck b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${gannEdgeTopK("g0c", "g0", 16)},
       |uk AS MATERIALIZED (SELECT * FROM ck WHERE vec_id % 4 = 0),
       |u0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM uk a JOIN uk b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${gannEdgeTopK("u0c", "u0", 8)},
       |us AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, t.n AS vec_id FROM
       |    (SELECT vec_id FROM emb WHERE vec_id < 5) q,
       |    (SELECT unnest([0, 4, 8, 12]) AS n) t
       |  WHERE t.n <> q.vec_id),
       |${gannQueryTopK("us", "ub0", 16)},
       |${gannBeamRound("ub", 1, "u0", 16)},
       |fs AS MATERIALIZED (
       |  SELECT DISTINCT query_id, vec_id FROM (
       |    SELECT query_id, vec_id FROM ub1
       |    UNION ALL
       |    SELECT qk.vec_id AS query_id, c.vec_id
       |    FROM ck qk JOIN ck c ON c.tbl = qk.tbl AND c.key = qk.key
       |    WHERE qk.vec_id < 5 AND c.vec_id <> qk.vec_id)),
       |${gannQueryTopK("fs", "b0", beamWidth)},
       |${gannBeamRound("b", 1, "g0", beamWidth)},
       |${gannBeamRound("b", 2, "g0", beamWidth)},
       |live AS (
       |  SELECT query_id, vec_id, cosine FROM (
       |    SELECT query_id, vec_id, cosine, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
       |    FROM b2s)
       |  WHERE rn <= $beamWidth AND ($liveCond))
       |SELECT query_id, vec_id, cosine, rank FROM (
       |  SELECT query_id, vec_id, cosine, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
       |    AS BIGINT) AS rank
       |  FROM live)
       |WHERE rank <= $k""".stripMargin
  }

  /** Oracle for q317_graph_ann_append: REPLAYS graphWriteVersioned over
    * the BASE corpus (vec_id < 5 or >= 25), the graphAppendVersioned
    * insertion of the 20-vector delta (beam-searched forward edges +
    * delta-delta bucket mates, affected-base reverse-edge re-rank,
    * merge), and the
    * layered probe search over the UPDATED graph — plus the delta
    * accounting board. The parquet rewrite between steps is
    * value-invariant, so the replay chains the CTEs directly. */
  private def GraphAnnAppendOracle: String = {
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings),
       |cb AS MATERIALIZED (
       |  SELECT vec_id, ${BucketExprSql(nPlanes = 8)} AS b8
       |  FROM emb e),
       |ckf AS MATERIALIZED (SELECT vec_id, 0 AS tbl, b8 % 16 AS key FROM cb
       |       UNION ALL SELECT vec_id, 1, b8 // 16 FROM cb),
       |ckb AS MATERIALIZED (SELECT * FROM ckf
       |  WHERE vec_id < 5 OR vec_id >= 25),
       |ckd AS MATERIALIZED (SELECT * FROM ckf
       |  WHERE vec_id >= 5 AND vec_id < 25),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, (SELECT sum(CAST(x * x AS DOUBLE))
       |    FROM (SELECT unnest(embedding) AS x)) AS nsq
       |  FROM emb),
       |g0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM ckb a JOIN ckb b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${gannEdgeTopK("g0c", "g0", 16)},
       |${gannNnDescent("g", 1, 16)},
       |uk AS MATERIALIZED (SELECT * FROM ckb WHERE vec_id % 4 = 0),
       |u0c AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM uk a JOIN uk b ON a.tbl = b.tbl AND a.key = b.key
       |    AND a.vec_id <> b.vec_id),
       |${gannEdgeTopK("u0c", "u0", 8)},
       |sd2 AS MATERIALIZED (
       |  SELECT DISTINCT query_id, vec_id FROM (
       |    SELECT dk.vec_id AS query_id, c.vec_id
       |    FROM ckd dk JOIN ckb c ON c.tbl = dk.tbl AND c.key = dk.key
       |    UNION ALL
       |    SELECT d.vec_id, t.n FROM
       |      (SELECT DISTINCT vec_id FROM ckd) d,
       |      (SELECT unnest([0, 4, 28, 32]) AS n) t)
       |  WHERE vec_id <> query_id),
       |${gannQueryTopK("sd2", "db0", 32)},
       |${gannBeamRound("db", 1, "g1", 32)},
       |${gannBeamRound("db", 2, "g1", 32)},
       |fc AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT query_id AS src, vec_id AS dst FROM db2
       |    UNION ALL
       |    SELECT a.vec_id, b.vec_id FROM ckd a
       |    JOIN ckd b ON a.tbl = b.tbl AND a.key = b.key
       |      AND a.vec_id <> b.vec_id)),
       |${gannEdgeTopK("fc", "fwd", 16)},
       |aff AS MATERIALIZED (SELECT DISTINCT dst AS src FROM fwd),
       |ac AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT g.src, g.dst FROM g1 g JOIN aff ON aff.src = g.src
       |    UNION ALL SELECT f.dst, f.src FROM fwd f)),
       |${gannEdgeTopK("ac", "affE", 16)},
       |gm AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT g.src, g.dst FROM g1 g LEFT JOIN aff a ON a.src = g.src
       |    WHERE a.src IS NULL
       |    UNION ALL SELECT src, dst FROM affE
       |    UNION ALL SELECT src, dst FROM fwd)),
       |us3 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, t.n AS vec_id FROM
       |    (SELECT vec_id FROM emb WHERE vec_id < 5) q,
       |    (SELECT unnest([0, 4, 28, 32]) AS n) t
       |  WHERE t.n <> q.vec_id),
       |${gannQueryTopK("us3", "pb0", 16)},
       |${gannBeamRound("pb", 1, "u0", 16)},
       |${gannBeamRound("pb", 2, "u0", 16)},
       |fs3 AS MATERIALIZED (
       |  SELECT DISTINCT query_id, vec_id FROM (
       |    SELECT query_id, vec_id FROM pb2
       |    UNION ALL
       |    SELECT qk.vec_id AS query_id, c.vec_id
       |    FROM ckf qk JOIN ckf c ON c.tbl = qk.tbl AND c.key = qk.key
       |    WHERE qk.vec_id < 5 AND c.vec_id <> qk.vec_id)),
       |${gannQueryTopK("fs3", "sb0", 48)},
       |${gannBeamRound("sb", 1, "gm", 48)},
       |${gannBeamRound("sb", 2, "gm", 48)},
       |${gannBeamRound("sb", 3, "gm", 48)},
       |${gannQueryTopK("sb3", "fin", 10)},
       |ex0 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, e.vec_id
       |  FROM emb q, emb e
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |${gannQueryTopK("ex0", "exact", 10)},
       |agg AS MATERIALIZED (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(CASE WHEN vec_id >= 5 AND vec_id < 25
       |      THEN 1 ELSE 0 END) AS BIGINT) AS delta_exact
       |  FROM exact GROUP BY 1),
       |hits AS MATERIALIZED (
       |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS index_hits,
       |    CAST(sum(CASE WHEN e.vec_id >= 5 AND e.vec_id < 25
       |      THEN 1 ELSE 0 END) AS BIGINT) AS delta_found
       |  FROM exact e JOIN fin f ON f.query_id = e.query_id
       |    AND f.vec_id = e.vec_id
       |  GROUP BY 1)
       |SELECT a.query_id, a.k,
       |  CAST(coalesce(h.index_hits, 0) AS BIGINT) AS index_hits,
       |  a.delta_exact,
       |  CAST(coalesce(h.delta_found, 0) AS BIGINT) AS delta_found,
       |  (CAST(coalesce(h.index_hits, 0) AS DOUBLE) / CAST(a.k AS DOUBLE)
       |    >= 0.7) AS recall_ok
       |FROM agg a LEFT JOIN hits h USING (query_id)""".stripMargin
  }

  private def LshOracleSql: String = {
    s"""WITH cb AS (
       |  SELECT vec_id, ${BucketExprSql()} AS bucket FROM embeddings e),
       |qprobes AS (
       |  SELECT q.vec_id AS query_id, t.probe
       |  FROM (SELECT vec_id, bucket FROM cb WHERE vec_id < 5) q,
       |  LATERAL (SELECT unnest([q.bucket, xor(q.bucket, 1), xor(q.bucket, 2),
       |                          xor(q.bucket, 4), xor(q.bucket, 8)]) AS probe) t),
       |cand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id
       |  FROM qprobes p JOIN cb c ON c.bucket = p.probe
       |  WHERE p.query_id <> c.vec_id),
       |""".stripMargin + CosineRankTail
  }

  /** Stopword regexes shared verbatim between the Scala ops and the DuckDB
    * oracle (TextAnalysis.StopwordTable is the single source of truth). */
  private def LangPats: Map[String, String] =
    TextAnalysis.StopwordTable.toMap.map { case (l, ws) =>
      l -> ws.mkString("\\b(", "|", ")\\b")
    }

  private def AllStopPat: String =
    TextAnalysis.StopwordTable.flatMap(_._2).mkString("\\b(", "|", ")\\b")

  /** Oracle for q182_trained_quality: REPLAYS the exact-integer-gradient training loop in
    * SQL — `iters` chained CTEs, each computing the next (bias, weights)
    * from order-free BIGINT gradient sums exactly as
    * `QualityModel.train` does — then scores with the fitted weights.
    * Bit-reproducible training is what makes this oracle possible at
    * all: a float-summed gradient would diverge in low bits and the
    * fitted weights would never hash-match. */
  private def TrainedQualityOracle(iters: Int, lr: Double): String = {
    val feats =
      s"""feats AS (
         |  SELECT doc_id,
         |    round(ln(1.0 + CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS f0,
         |    CASE WHEN len(string_split(text, ' ')) > 0 THEN round(CAST(len(regexp_extract_all(lower(text), '$AllStopPat')) AS DOUBLE) / len(string_split(text, ' ')), 6) ELSE 0.0 END AS f1,
         |    CASE WHEN length(text) > 0 THEN round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text), 6) ELSE 0.0 END AS f2,
         |    CASE WHEN length(text) > 0 THEN round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text), 6) ELSE 0.0 END AS f3,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM feats),
         |it0 AS (SELECT 0.0 AS wb, 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin
    def g(expr: String) =
      s"(CAST(sum(CAST(floor($expr * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0)"
    val steps = (1 to iters).map { i =>
      s"""it$i AS (SELECT
         |    min(wb) - $lr * ${g("err")} / min(cnt) AS wb,
         |    min(w0) - $lr * ${g("err * f0")} / min(cnt) AS w0,
         |    min(w1) - $lr * ${g("err * f1")} / min(cnt) AS w1,
         |    min(w2) - $lr * ${g("err * f2")} / min(cnt) AS w2,
         |    min(w3) - $lr * ${g("err * f3")} / min(cnt) AS w3
         |  FROM (SELECT w.wb, w.w0, w.w1, w.w2, w.w3, f.f0, f.f1, f.f2, f.f3, nn.cnt,
         |      1.0 / (1.0 + exp(-(w.wb + f.f0 * w.w0 + f.f1 * w.w1 + f.f2 * w.w2 + f.f3 * w.w3))) - f.y AS err
         |    FROM feats f CROSS JOIN it${i - 1} w CROSS JOIN nn))""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""WITH $feats$steps
       |SELECT f.doc_id,
       |  round(1.0 / (1.0 + exp(-(w.wb + f.f0 * w.w0 + f.f1 * w.w1 + f.f2 * w.w2 + f.f3 * w.w3))), 6) AS quality_prob,
       |  (round(1.0 / (1.0 + exp(-(w.wb + f.f0 * w.w0 + f.f1 * w.w1 + f.f2 * w.w2 + f.f3 * w.w3))), 6) >= 0.5) AS kept
       |FROM feats f CROSS JOIN it$iters w""".stripMargin
  }

  /** Oracle for q266_bpe_train: the greedy BPE loop unrolled — each
    * step counts adjacent symbol pairs over the current symbol strings,
    * picks the (count desc, pair asc) argmax, and applies the merge as
    * the same boundary-aware left-to-right `list_reduce` fold the Spark
    * side runs with `aggregate`. */
  private def BpeTrainOracle(nMerges: Int): String = {
    val steps = (1 to nMerges).map { i =>
      s"""p$i AS (
         |  SELECT t.sy[ix.i] AS a, t.sy[ix.i + 1] AS b,
         |    CAST(sum(t.cnt) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(symstr, ' ') AS sy, cnt FROM s${i - 1}) t,
         |    LATERAL (SELECT unnest(range(1, len(t.sy))) AS i) ix
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, pair_count FROM p$i
         |  ORDER BY pair_count DESC, a, b LIMIT 1),
         |s$i AS (
         |  SELECT list_reduce(string_split(symstr, ' '), (acc, x) ->
         |    CASE WHEN x = b$i.b AND (acc = b$i.a
         |        OR right(acc, length(b$i.a) + 1) = concat(' ', b$i.a))
         |      THEN concat(left(acc, length(acc) - length(b$i.a)), b$i.a, b$i.b)
         |      ELSE concat(acc, ' ', x) END) AS symstr, cnt
         |  FROM s${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, a AS sym_a, b AS sym_b, pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH wc AS (
       |  SELECT w AS word, count(*) AS cnt FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
       |    FROM documents) WHERE w <> '' GROUP BY 1),
       |s0 AS (
       |  SELECT array_to_string(string_split(word, ''), ' ') || ' </w>'
       |    AS symstr, cnt FROM wc),
       |$steps
       |$sel""".stripMargin
  }

  /** Oracle for q267_roc_auc: the same training replay as
    * [[TrainedQualityOracle]], then the exact rank-sum AUC with
    * average-rank ties over the 6dp score grid. */
  private def RocAucOracle(iters: Int, lr: Double): String = {
    val trained = TrainedQualityOracle(iters, lr)
    s"""WITH scored AS (
       |${trained.linesIterator.map("  " + _).mkString("\n")}
       |),
       |lab AS (
       |  SELECT CAST(floor(s.quality_prob * 1000000 + 0.5) AS BIGINT) AS s6,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
       |per AS (SELECT s6, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(y) AS BIGINT) AS np FROM lab GROUP BY 1),
       |cum AS (SELECT *, coalesce(sum(n) OVER (ORDER BY s6
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
       |  FROM per),
       |agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |  CAST(sum(n - np) AS BIGINT) AS n_neg,
       |  CAST(sum(np * (2 * cp + n + 1)) AS BIGINT) AS r2 FROM cum)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    floor(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
       |      / CAST(2 * n_pos * n_neg AS DOUBLE) * 1000000 + 0.5) / 1000000
       |  END AS auc
       |FROM agg""".stripMargin
  }

  /** Oracle for q278_conformal: the q182 training replay, then the
    * split-conformal calibration quantile and per-test prediction
    * sets, mirroring QualityModel.conformalSets stage by stage. */
  private def ConformalOracle(iters: Int, lr: Double): String = {
    val trained = TrainedQualityOracle(iters, lr)
    s"""WITH scored AS (
       |${trained.linesIterator.map("  " + _).mkString("\n")}
       |),
       |j AS (
       |  SELECT s.doc_id,
       |    CAST(floor(s.quality_prob * 1000000 + 0.5) AS BIGINT) AS p6,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
       |    CAST(concat('0x', substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 4 = 0 AS cal
       |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
       |calr AS (
       |  SELECT doc_id, CASE WHEN y = 1 THEN 1000000 - p6 ELSE p6 END AS s6
       |  FROM j WHERE cal),
       |q AS (
       |  SELECT min(CASE WHEN rk >= ceil(CAST(0.9 AS DOUBLE) * (nc + 1))
       |    THEN s6 END) AS q6
       |  FROM (SELECT s6, row_number() OVER (ORDER BY s6, doc_id) AS rk,
       |      (SELECT CAST(count(*) AS BIGINT) FROM calr) AS nc
       |    FROM calr)),
       |tst AS (
       |  SELECT y, (1000000 - p6 <= q6) AS in1, (p6 <= q6) AS in0, q6
       |  FROM j, q WHERE NOT cal)
       |SELECT CASE WHEN in1 AND in0 THEN 'both' WHEN in1 THEN '{1}'
       |    WHEN in0 THEN '{0}' ELSE 'empty' END AS pred_set,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN (y = 1 AND in1) OR (y = 0 AND in0)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |  CAST(max(q6) AS DOUBLE) / 1000000 AS q_hat
       |FROM tst GROUP BY 1""".stripMargin
  }

  /** Oracle for q279_gains: the q182 training replay, ranked desc on
    * the 6dp score grid (ids break ties), integer ceil-div deciles,
    * cumulative gain and lift. */
  private def GainsOracle(iters: Int, lr: Double): String = {
    val trained = TrainedQualityOracle(iters, lr)
    s"""WITH scored AS (
       |${trained.linesIterator.map("  " + _).mkString("\n")}
       |),
       |j AS (
       |  SELECT s.doc_id,
       |    CAST(floor(s.quality_prob * 1000000 + 0.5) AS BIGINT) AS s6,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
       |rk AS (
       |  SELECT y, CAST(row_number() OVER (ORDER BY -s6, doc_id) AS BIGINT)
       |    AS rank,
       |    (SELECT CAST(count(*) AS BIGINT) FROM j) AS nt,
       |    (SELECT CAST(sum(y) AS BIGINT) FROM j) AS pt
       |  FROM j),
       |pb AS (
       |  SELECT (rank * 10 + nt - 1) // nt AS decile,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos, max(nt) AS nt, max(pt) AS pt
       |  FROM rk GROUP BY 1),
       |cum AS (
       |  SELECT *, CAST(sum(n) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_n,
       |    CAST(sum(n_pos) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_pos
       |  FROM pb)
       |SELECT CAST(decile AS BIGINT) AS decile, n, n_pos, cum_pos,
       |  CASE WHEN pt > 0 THEN floor(CAST(cum_pos AS DOUBLE)
       |    / CAST(pt AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS gain,
       |  CASE WHEN pt > 0 THEN floor(CAST(cum_pos * nt AS DOUBLE)
       |    / CAST(cum_n * pt AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS lift
       |FROM cum""".stripMargin
  }

  /** Oracle body for q188 — also nested by q200's savings oracle. */
  private def RemoveDupSpansOracle: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |win AS (
      |  SELECT doc_id, t.i - 1 AS pos,
      |    array_to_string(tk[t.i:t.i+9], ' ') AS g
      |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk) - 8)) AS i) t
      |  WHERE len(d.tk) >= 10),
      |marked AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |  FROM win),
      |cov AS (
      |  SELECT DISTINCT m.doc_id, m.pos + t.j AS tp
      |  FROM marked m, LATERAL (SELECT unnest(range(0, 10)) AS j) t
      |  WHERE m.rn > 1),
      |toks AS (
      |  SELECT doc_id, t.i - 1 AS tp, tk[t.i] AS tok
      |  FROM docs d, LATERAL (SELECT unnest(range(1, len(d.tk) + 1)) AS i) t),
      |kept AS (
      |  SELECT k.doc_id, k.tp, k.tok FROM toks k
      |  LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.tp = k.tp
      |  WHERE c.doc_id IS NULL),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY tp) AS clean_text
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |  CAST(len(d2.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
      |FROM documents d
      |JOIN docs d2 ON d2.doc_id = d.doc_id
      |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** Oracle body for q189 — also nested by q198's anomaly oracle. */
  private def SeasonalDecomposeOracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2),
      |ma AS (
      |  SELECT event_type, d, v,
      |    ((CAST(d - DATE '1970-01-01' AS BIGINT) % 7) + 7) % 7 AS idx,
      |    sum(v) OVER w AS s7, count(*) OVER w AS c7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |base AS (
      |  SELECT event_type, d, idx, v, s7, 7 * v - s7 AS d7
      |  FROM ma WHERE c7 = 7),
      |seas AS (
      |  SELECT event_type, idx,
      |    round(CAST(sum(d7) AS DOUBLE) / (700.0 * count(*)), 6) AS s6
      |  FROM base GROUP BY 1, 2),
      |ctr AS (
      |  SELECT event_type,
      |    floor(round(sum(s6), 6) / 7 * 1e6 + 0.5) / 1e6 AS mt
      |  FROM seas GROUP BY 1)
      |SELECT b.event_type, b.d, b.idx, b.v / 100.0 AS value,
      |  floor(b.s7 / 700.0 * 1e6 + 0.5) / 1e6 AS trend,
      |  s.s6 - c.mt AS seasonal,
      |  floor((b.d7 / 700.0 - (s.s6 - c.mt)) * 1e6 + 0.5) / 1e6 AS residual
      |FROM base b
      |JOIN seas s ON s.event_type = b.event_type AND s.idx = b.idx
      |JOIN ctr c ON c.event_type = b.event_type""".stripMargin

  /** Oracle for q195_calibration_bins: the SAME training replay as
    * [[TrainedQualityOracle]], then decile reliability bins of the
    * fitted probability against the training labels. */
  private def CalibrationBinsOracle(iters: Int, lr: Double): String = {
    val trained = TrainedQualityOracle(iters, lr)
    // reuse the full trained-scoring query as a subselect, re-join the
    // labels, and bin
    s"""WITH scored AS (
       |${trained.linesIterator.map("  " + _).mkString("\n")}
       |),
       |labeled AS (
       |  SELECT s.doc_id, s.quality_prob,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id)
       |SELECT CAST(least(floor(quality_prob * 10), 9) AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n,
       |  floor(round(sum(quality_prob), 6) / count(*) * 1e6 + 0.5) / 1e6
       |    AS mean_prob,
       |  floor(CAST(sum(y) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
       |    AS frac_pos
       |FROM labeled GROUP BY 1""".stripMargin
  }
}
