package graft

import org.apache.spark.sql.functions._

/** Round-12 fixes on crafted fixtures: hash-proof integer Kaplan–Meier
  * output, the O(T) running-product window fold, integer-grid PageRank,
  * TopKPerKeyExec key-count guard, kappa/log-rank degenerate-input
  * guards. */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  test("kaplan-meier: survival_p6 is the exact integer behind the double") {
    val lt = Seq((1L, 1L, true), (2L, 2L, true), (3L, 2L, true))
      .toDF("subject", "duration_days", "observed")
    val r = graft.operators.Survival.kaplanMeier(lt)
      .select("t_days", "survival_p6", "survival")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L)._1 == 1000000L * 2 / 3, "S(1) as the exact floor-grid integer")
    assert(r(1L)._2 == r(1L)._1.toDouble / 1e6, "double is derived, not recomputed")
    assert(r(2L) == ((0L, 0.0)), "whole-risk-set death pins p6 to integer 0")
  }

  test("kaplan-meier: O(T) fold handles 100k distinct durations in seconds") {
    // one subject per distinct duration — the old collect_list prefix
    // fold would materialize ~5e9 list cells here and never finish.
    // The quadratic-regression guard is the PLAN SHAPE (deterministic),
    // not wall-clock (flaky on a loaded host): the O(T²) form left a
    // collect_list + aggregate-lambda fold in the analyzed plan; the
    // running-product window aggregate has neither.
    val n = 100000
    val lt = spark.range(1, n + 1).select(col("id").as("subject"),
      col("id").as("duration_days"), lit(true).as("observed"))
    val km = graft.operators.Survival.kaplanMeier(lt)
    val plan = km.queryExecution.analyzed.toString.toLowerCase
    assert(!plan.contains("collect_list"),
      s"O(T²) collect_list prefix fold back in the plan:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"per-row array fold back in the plan:\n$plan")
    val t0 = System.nanoTime()
    val rows = km.agg(count(lit(1)), min("survival_p6"), max("survival_p6"))
      .as[(Long, Long, Long)].collect().head
    info(f"100k-duration fold: ${(System.nanoTime() - t0) / 1e9}%.1fs")
    assert(rows._1 == n.toLong, "every duration is an event time")
    assert(rows._2 == 0L, "the last death (n_risk = d = 1) pins p6 to 0")
    // S(1) = (n-1)/n on the 6dp floor grid
    assert(rows._3 == (n.toLong - 1L) * 1000000L / n.toLong)
  }

  test("pagerank: no double accumulation anywhere in the analyzed plan") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // capture the per-iteration update plan (the final pr frame)
    for (plan <- Seq(
        graft.operators.PageRank.run(e, iters = 1),
        graft.operators.PageRank.personalized(e, seeds = Seq(1L), iters = 1))
        .map(_.queryExecution.analyzed.toString.toLowerCase)) {
      // the old double-grid form left floor(x * 1e6 + 0.5) markers and
      // double-typed sums; the integer grid has neither
      assert(!plan.contains("floor("), s"double-grid floor in plan:\n$plan")
      for (m <- """sum\(([^)]*)\)""".r.findAllMatchIn(plan))
        assert(!m.group(1).contains("double"),
          s"double accumulation: ${m.matched}")
    }
    // bit-identity across partitionings, the property the grid buys
    val big = (1 to 200).map(i => (i.toLong % 50, (i * 7).toLong % 50))
      .filter(t => t._1 != t._2).toDF("src", "dst")
    val a = graft.operators.PageRank.run(big.repartition(1), iters = 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = graft.operators.PageRank.run(big.repartition(13), iters = 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(a == b, "ranks must be partition-order independent")
  }

  test("kappa: one identical constant class yields NULL, not inf") {
    val df = Seq.fill(5)(("en", "en")).toDF("a", "b")
    val r = graft.operators.Agreement.cohenKappa(df, "a", "b")
      .select("kappa").as[Option[Double]].collect()
    assert(r.length == 1 && r.head.isEmpty,
      s"p_e = 1 must yield NULL kappa, got ${r.toSeq}")
    // sanity: a non-degenerate board still scores
    val ok = Seq(("en", "en"), ("en", "de"), ("de", "de"), ("de", "de"))
      .toDF("a", "b")
    val k = graft.operators.Agreement.cohenKappa(ok, "a", "b")
      .select("kappa").as[Option[Double]].collect().head
    assert(k.isDefined && k.get > 0.0 && k.get < 1.0)
  }

  test("log-rank: zero pooled variance yields NULL chi2, not inf") {
    // two subjects, one per group, both die at t=1: at that time
    // n=2, d=2 -> the (n-d)/(n-1) factor zeroes V while E is defined
    val lt = Seq((1L, true, true), (1L, true, false))
      .toDF("duration_days", "observed", "grp")
    val r = graft.operators.Survival.logRank(lt, "grp")
      .select("chi2").as[Option[Double]].collect().head
    assert(r.isEmpty, s"V = 0 must yield NULL chi2, got $r")
  }

  test("graph ann index: persisted two-layer search matches or beats flat recall") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 5)
    val exact = graft.operators.Similarity.bruteForceTopK(e, qs, "vec_id",
      "embedding", k = 10).select("query_id", "vec_id")
    val root = tmpDir("graft-gann") + "/g"
    val t0 = System.nanoTime()
    graft.operators.GraphAnn.graphWriteVersioned(e, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 16, refine = 2,
      root = root, upperMod = 4, upperDegree = 8, upperRefine = 1)
    val tBuild = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ann = graft.operators.GraphAnn.layeredTopKVersioned(spark, root,
        e, qs, "vec_id", "embedding", dim = 64, planes = 4, tables = 2,
        entries = Seq(0L, 4L, 8L, 12L), upperRounds = 2, upperWidth = 16,
        rounds = 3, beamWidth = 32)
      .filter(col("rank") <= 10).select("query_id", "vec_id")
    val hits = exact.join(ann, Seq("query_id", "vec_id"), "left_semi").count()
    val tSearch = (System.nanoTime() - t1) / 1e9
    info(f"build ${tBuild}%.1fs, search ${tSearch}%.1fs, recall $hits/50")
    assert(hits >= 45L, s"layered corpus recall >= 0.9, got $hits/50")
  }

  test("char-ngram langid: fewer misclassified than word NB on short texts") {
    // tweet-length regime: every doc truncated to its first 60 chars —
    // the word grid starves (few words, most unseen per language)
    // while overlapping char 3..5-grams keep corpus-wide support
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 60).as("text"))
    def wrong(g: org.apache.spark.sql.DataFrame): Long =
      g.filter(col("lang_label") =!= col("lang_guess")).count()
    val word = wrong(graft.operators.LangModel.naiveBayesGuess(
      docs, "doc_id", "text", "lang"))
    val char = wrong(graft.operators.LangModel.charNaiveBayesGuess(
      docs, "doc_id", "text", "lang"))
    info(s"misclassified on 60-char texts: word=$word char=$char")
    assert(char < word,
      s"char 3..5-grams must beat word unigrams on short texts: $char vs $word")
  }

  test("char-ngram tokens: windows, boundaries and short-doc edge cases") {
    val docs = Seq((1L, "AbC", "x"), (2L, "ab", "x"), (3L, "abcd", "y"))
      .toDF("doc_id", "text", "lang")
    val tk = graft.operators.LangModel.charNgramTokens(docs, "doc_id",
        "text", "lang", nMin = 2, nMax = 3)
      .select("doc_id", "w").as[(Long, String)].collect()
      .groupBy(_._1).map { case (d, ws) => d -> ws.map(_._2).toSeq.sorted }
    assert(tk(1L) == Seq("ab", "abc", "bc"), "lowercased, both gram sizes")
    assert(tk(2L) == Seq("ab"), "doc shorter than nMax keeps its smaller grams")
    assert(tk(3L) == Seq("ab", "abc", "bc", "bcd", "cd"))
  }

  test("unigram lm: EM concentrates mass on the planted subword") {
    // every word contains "ana": the trained model must give "ana"
    // (or a superstring) heavy expected counts while junk substrings
    // that never sit on an optimal path starve to zero
    val docs = Seq((1L, "banana bandana cabana banana"),
      (2L, "cabana bandana banana banana")).toDF("doc_id", "text")
    val v = graft.operators.UnigramLm.emTrain(docs, "text", iters = 2,
        maxPieceLen = 4, maxWordLen = 10, seedK = 50, keepK = 20)
      .select("piece", "n_est", "lp9")
      .as[(String, Long, Long)].collect()
    val byPiece = v.map(t => t._1 -> t._2).toMap
    assert(byPiece.keys.count(_.length == 1) ==
      "bandc".toSet.size, "exactly the corpus alphabet survives as singles")
    assert(byPiece.getOrElse("ana", 0L) + byPiece.getOrElse("anan", 0L)
      + byPiece.getOrElse("ban", 0L) > 0L,
      s"planted subwords carry mass: ${v.toSeq.sortBy(-_._2).take(8)}")
    assert(v.forall(_._3 < 0L), "log-probs are negative on the 9dp grid")
    assert(v.count(_._1.length >= 2) <= 20, "keepK bounds the multi vocab")
  }

  test("unigram lm: viterbi encode round-trips and ties break to longest piece") {
    val vocab = Seq(("ab", -1000000000L), ("a", -2000000000L),
      ("b", -2000000000L), ("c", -3000000000L))
    val df = Seq((1L, "Abab, Cab!"), (2L, "zq ab")).toDF("id", "text")
    val enc = df.select(col("id"),
      graft.operators.UnigramLm.encode(col("text"), vocab).as("toks"))
    val toks = enc.as[(Long, Seq[String])].collect().toMap
    // "abab" -> ab|ab (score -2e9) beats a|b|a|b (-8e9); "cab" -> c|ab
    assert(toks(1L) == Seq("ab", "ab", "</w>", "c", "ab", "</w>"), toks(1L))
    // unknown chars encode as themselves (UNK-as-self), never fail
    assert(toks(2L) == Seq("z", "q", "</w>", "ab", "</w>"), toks(2L))
    val rt = enc.select(col("id"),
        graft.operators.UnigramLm.decode(col("toks")).as("txt"))
      .as[(Long, String)].collect().toMap
    assert(rt(1L) == "abab cab" && rt(2L) == "zq ab",
      "decode inverts to the canonical text")
  }

  test("unigram lm: trained encode round-trips the real corpus like BPE") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val vocab = graft.operators.UnigramLm.emTrain(docs, "text", iters = 1,
        seedK = 200, keepK = 150)
      .select("piece", "lp9").as[(String, Long)].collect().toSeq
    val merges = graft.operators.Bpe.trainMerges(docs, "text",
      nMerges = 30, maxWords = 500)
    val both = docs.select(
      graft.operators.Bpe.canonicalText(col("text")).as("canon"),
      graft.operators.UnigramLm.decode(
        graft.operators.UnigramLm.encode(col("text"), vocab)).as("uni"),
      graft.operators.Bpe.decode(
        graft.operators.Bpe.encode(col("text"), merges)).as("bpe"))
    assert(both.filter(col("uni") =!= col("canon")).count() == 0,
      "unigram encode/decode round-trips every doc")
    assert(both.filter(col("bpe") =!= col("canon")).count() == 0,
      "BPE baseline round-trips the same corpus")
  }

  test("weighted pagerank: heavy edges pull proportionally more mass") {
    // hub 1 points at 2 (weight 9) and 3 (weight 1): node 2 must end
    // far above node 3, while the unweighted walk ranks them equal
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val wpr = graft.operators.PageRank.runWeighted(e, "w", iters = 3)
      .as[(Long, Double)].collect().toMap
    // restart + dangling redistribution put a uniform floor under every
    // node, so the gap is additive, not a pure 9:1 ratio
    assert(wpr(2L) > wpr(3L) + 0.1,
      s"the weight-9 target dominates the weight-1 target: $wpr")
    val upr = graft.operators.PageRank.run(
        e.select("src", "dst"), iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(upr(2L) == upr(3L), "unweighted baseline treats both alike")
    // uniform weights reduce to symmetric behavior across partitionings
    val big = (1 to 120).map(i =>
      (i.toLong % 40, (i * 11).toLong % 40, (i % 3 + 1).toLong))
      .filter(t => t._1 != t._2).toDF("src", "dst", "w")
    val a = graft.operators.PageRank.runWeighted(big.repartition(1), "w", 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = graft.operators.PageRank.runWeighted(big.repartition(7), "w", 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(a == b, "integer grid: bit-identical across partitionings")
  }

  test("weighted lpa: strong edges outvote a numerically larger weak clique") {
    // node 10 has TWO weak (w=1) neighbors labeled 1,2 and ONE strong
    // (w=5) neighbor labeled 3: count-votes pick min(1,2)=1, but
    // weight-votes pick 3
    val e = Seq((1L, 10L, 1L), (2L, 10L, 1L), (3L, 10L, 5L))
      .toDF("a", "b", "w")
    val nodes = Seq(1L, 2L, 3L, 10L).toDF("id")
    val wl = graft.operators.Graphs.weightedLabelPropagation(
        e, "a", "b", "w", nodes, "id", iters = 1)
      .select("node", "community").as[(Long, Long)].collect().toMap
    assert(wl(10L) == 3L, s"weight 5 outvotes two weight-1 edges: $wl")
    val ul = graft.operators.Graphs.labelPropagation(
        e.select("a", "b"), "a", "b", nodes, "id", iters = 1)
      .select("node", "community").as[(Long, Long)].collect().toMap
    assert(ul(10L) == 1L, "count votes tie 1-1-1 and break to the smallest")
  }

  test("graph ann append: inserted group-mates become the probe's top results") {
    // 64 vectors in 8 axis-aligned groups (the planted-neighbor
    // fixture): build the index WITHOUT probe 0's seven group-mates,
    // append them, and the post-append search must surface exactly
    // those mates — proof insertion rewires the graph, not just stores
    val vecs = (0 until 64).map { i =>
      val v = Array.fill(64)(0.0f)
      v(8 * (i % 8)) = 1.0f
      v(8 * (i % 8) + 1) = 0.001f * (i / 8 + 1)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val mates = (0 until 64).filter(i => i % 8 == 0 && i != 0).map(_.toLong)
    val base = vecs.filter(!col("vec_id").isin(mates: _*))
    val delta = vecs.filter(col("vec_id").isin(mates: _*))
    val root = tmpDir("graft-gann-app-spec") + "/g"
    graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 1,
      root = root, upperMod = 4, upperDegree = 8, upperRefine = 1)
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base, delta,
      "vec_id", "embedding", rounds = 3, beamWidth = 16,
      entries = Seq(4L, 12L, 20L, 28L))
    val got = graft.operators.GraphAnn.layeredTopKVersioned(spark, root,
        vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 64, planes = 4, tables = 2,
        entries = Seq(4L, 12L, 20L, 28L), upperRounds = 2, upperWidth = 8,
        rounds = 3, beamWidth = 16)
      .filter(col("rank") <= 7).select("vec_id").as[Long].collect().toSet
    assert(got == mates.toSet,
      s"probe 0 finds exactly its inserted group-mates, got $got")
  }

  test("product6_fold: merge (partial-aggregate use) fails loud") {
    val df = Seq(500000L, 500000L).toDF("f6")
    val agg = df.groupBy().agg(
      graft.expressions.Product6FoldAgg.product6(col("f6")).as("p6"))
    val e = intercept[Exception] { agg.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("ORDERED"))),
      s"expected the ordered-fold contract message, got $e")
  }
}
