package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.etl.IncrementalLoad
import graft.operators.Similarity
import graft.streaming.EventStreams

/** Scale-path features: IVF ANN, stateful streaming sessionization, and
  * bucketed (exchange-free) joins. */
class ScaleFeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("IVF top-k: cosines agree with brute force; rank-1 recall is high") {
    val dir = sf("sf0.001")
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, v, c) =>
      if (brute.contains((q, v))) assert(math.abs(brute((q, v)) - c) < 1e-9)
    }
    // every query produced candidates from its probed lists
    assert(ivf.map(_._1).toSet.size == 10)
  }

  test("int8 quantization: reconstruction error bounded by half a step") {
    val e = Tables.load(spark, sf("sf0.001"), "embeddings")
    val rows = Similarity.quantizeInt8(e, "vec_id", "embedding")
      .select("v", "scale", "qv")
      .as[(Array[Float], Double, Array[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, scale, qv) =>
      assert(v.length == qv.length)
      assert(qv.forall(q => q >= -127 && q <= 127))
      if (scale > 0) v.zip(qv).foreach { case (x, q) =>
        // |x - q/scale| <= 0.5/scale: round-half-up never clamps here
        // because scale maps max|x| exactly to ±127
        assert(math.abs(x.toDouble - q / scale) <= 0.5 / scale + 1e-12,
          s"x=$x q=$q scale=$scale")
      }
    }
    // quantized cosines track exact cosines closely (the ANN use case)
    val q = rows.take(20)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n > 0) d / n else 0.0
    }
    for (i <- q.indices; j <- 0 until i) {
      val exact = cos(q(i)._1.map(_.toDouble), q(j)._1.map(_.toDouble))
      val approx = cos(q(i)._3.map(_.toDouble), q(j)._3.map(_.toDouble))
      assert(math.abs(exact - approx) < 0.02, s"pair ($i,$j): $exact vs $approx")
    }
  }

  test("materialized IVF index prunes to the probed list partitions") {
    val dir = sf("sf0.001")
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter($"vec_id" < 5)
    val root = tmpDir("graft-ivf-idx") + "/ivf"
    val cents = Similarity.ivfWriteVersioned(e, "vec_id", "embedding", root,
      nlist = 16)
    val part = Similarity.ivfTopKVersioned(spark, root, cents, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    // the scan must skip the files of unprobed lists, not read-and-filter:
    // it opens exactly the files a list_id filter keeps for the probed set
    import graft.expressions.CosinesExpr.{cosinesD, topKIndices}
    def keptFor(q: org.apache.spark.sql.DataFrame, nprobe: Int) = {
      val probed = q
        .select(explode(topKIndices(cosinesD($"embedding", cents), nprobe)))
        .distinct().as[Int].collect().map(_.toLong).toSeq
      graft.etl.ManifestFileIndex.filesKept(graft.etl.ManifestTable
        .read(spark, root, "lists").filter(col("list_id").isin(probed: _*)))
    }
    def opened(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.count(_.contains(root))
    assert(opened(part) == keptFor(queries, 4)._1)
    // a single query probing one list: every other list's files skipped
    val one = queries.filter($"vec_id" === 0)
    val (kept1, total) = keptFor(one, 1)
    assert(opened(Similarity.ivfTopKVersioned(spark, root, cents, one,
      "vec_id", "embedding", k = 10, nprobe = 1)) == kept1 && kept1 < total,
      s"a 1-list probe opens $kept1 of $total index files")
    info(s"1-list probe: opened $kept1 of $total index files")
    // identical results to the in-memory operator with the same centroids
    val mem = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(part.as[(Long, Long, Double, Long)].collect().toSet == mem)
  }

  test("k-means IVF: trained centroids keep recall@k vs brute force") {
    val dir = sf("sf0.001")
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter($"vec_id" < 10)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val brute = topSets(
      Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 10))
    def recallOf(trainIters: Int): Double = {
      val got = topSets(Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 10, nlist = 8, nprobe = 4, trainIters = trainIters))
      brute.map { case (q, b) =>
        got.getOrElse(q, Set.empty).intersect(b).size.toDouble / b.size
      }.sum / brute.size
    }
    val (seed, trained) = (recallOf(0), recallOf(2))
    info(f"recall@10 seed=$seed%.3f kmeans=$trained%.3f")
    // nprobe/nlist = half the lists searched: trained lists must hold
    // recall at least as well as the arbitrary seed sample (small slack
    // for assignment boundary moves), and clear a floor outright
    assert(trained >= seed - 0.1, f"k-means recall regressed: $trained%.3f vs seed $seed%.3f")
    assert(trained >= 0.5, f"k-means recall floor: $trained%.3f")
    // centroid training is deterministic: same call, same centroids
    val c1 = Similarity.kmeansCentroids(e, "vec_id", "embedding", 8, 2)
    val c2 = Similarity.kmeansCentroids(e, "vec_id", "embedding", 8, 2)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
  }

  test("semantic dedup: dropped iff a smaller-id near-dup shares the cluster") {
    val e = Tables.load(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.semanticDedup(e, "vec_id", "embedding",
        nlist = 16, trainIters = 2, tau = 0.38)
      .as[(Long, Int, Boolean)].collect()
    assert(out.length == 500 && out.map(_._1).distinct.length == 500)
    assert(out.exists(_._3) && out.exists(!_._3))
    // independent replay of the drop rule from the raw vectors + the
    // operator's own assignment (assignment determinism is covered by the
    // kmeansCentroids test; here we verify the pair semantics)
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
        i += 1
      }
      if (na > 0 && nb > 0) d / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val byCluster = out.groupBy(_._2)
    byCluster.values.foreach { members =>
      val ids = members.map(_._1).sorted
      members.foreach { case (id, _, dropped) =>
        val expected = ids.filter(_ < id).exists(o =>
          BigDecimal(cos(vecs(o), vecs(id)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal(0.38))
        assert(dropped == expected, s"vec $id: got $dropped expected $expected")
      }
    }
    // the smallest id of every cluster survives by construction
    byCluster.values.foreach { m =>
      val minId = m.map(_._1).min
      assert(!m.find(_._1 == minId).get._3)
    }
  }

  test("stateful streaming sessionization emits closed sessions") {
    val src = tmpDir("state-src")
    Seq(
      EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0, "{}"),
      EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 7, "view", 2.0, "{}"),
      EventStreams.Event(3, Timestamp.valueOf("2024-01-01 12:00:00"), 7, "click", 4.0, "{}"),
      EventStreams.Event(4, Timestamp.valueOf("2024-01-01 10:05:00"), 8, "view", 8.0, "{}"),
      EventStreams.Event(5, Timestamp.valueOf("2024-01-01 13:00:00"), 8, "view", 16.0, "{}")
    ).toDS().coalesce(1).write.mode("overwrite").parquet(src)

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]].schema)
      .parquet(src).as[EventStreams.Event]
    val sessions = EventStreams.statefulSessionize(stream, gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("sessions")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    // The 10:00-10:10 session for user 7 and 10:05 for user 8 closed when
    // the later events arrived past the gap (the trailing sessions are
    // still open state — only closed sessions are emitted in append mode).
    assert(out.contains((7L, 2L, 3.0)))
    assert(out.contains((8L, 1L, 8.0)))
  }

  test("stateful session timeout closes the session without re-arming the timer") {
    import org.apache.spark.sql.streaming.TestGroupState
    // Simulate the timed-out invocation Spark makes after the watermark
    // passes the stored timeout: rows empty, hasTimedOut=true. The update
    // must emit the closed session and remove state — and must NOT call
    // setTimeoutTimestamp (which would throw: the stored timeout is below
    // the watermark by definition of having timed out).
    val state = TestGroupState.create[EventStreams.SessionState](
      optionalState = org.apache.spark.api.java.Optional.of(
        EventStreams.SessionState(1000L, 61000L, 3, 7.5)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(10000000L),
      hasTimedOut = true)
    val out = EventStreams.sessionUpdate(1800000L)(7L, Iterator.empty, state).toList
    assert(out.map(s => (s.user_id, s.n_events, s.sum_value)) == List((7L, 3L, 7.5)))
    assert(state.isRemoved, "state cleared after timeout")
  }

  test("kmv quantile sketch: partition-independent, exact when k >= n") {
    import graft.expressions.KmvQuantileAgg.kmvQuantiles
    val df = spark.range(10000).select(
      col("id"), (col("id") % 97).cast("double").as("v"))
    def sketch(parts: Int): Seq[Double] =
      df.repartition(parts)
        .agg(kmvQuantiles(col("v"), col("id"), k = 256, probs = Seq(0.25, 0.5, 0.9)))
        .as[Seq[Double]].head()
    // the kept set is the k smallest id-hashes — a pure function of the
    // data, so ANY partitioning gives bit-identical output (the property
    // percentile_approx does not have)
    val a = sketch(3)
    assert(a == sketch(13) && a == sketch(1))
    // rank error ~ 1/sqrt(256) ≈ 6%: kth-value of 0..96 within ~12 ranks
    assert(math.abs(a(1) - 48.0) <= 12.0, s"median estimate ${a(1)}")

    // k >= n: the sample IS the data, quantiles exact (lower-value rule)
    val tiny = spark.range(1, 101).select(col("id"), col("id").cast("double").as("v"))
    val exact = tiny.agg(kmvQuantiles(col("v"), col("id"), k = 1000,
      probs = Seq(0.01, 0.5, 1.0))).as[Seq[Double]].head()
    assert(exact == Seq(1.0, 50.0, 100.0), s"got $exact")
  }

  test("approximate aggregates track exact values within tolerance") {
    // q24 now carries the bounded-error check itself (exact + approx in one
    // query, within-tolerance booleans out); assert every group holds.
    val rows = SparkEntry.queries("q24_approx_agg")(spark, sf("sf0.01"))
      .as[(String, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, ndvOk, p50Ok) =>
      assert(ndvOk && p50Ok, s"$k: ndv_ok=$ndvOk p50_ok=$p50Ok")
    }
  }

  test("profiler: one-pass column stats match the data") {
    val dir = sf("sf0.001")
    val r = graft.operators.Profiler
      .profile(Tables.load(spark, dir, "orders"), Seq("o_custkey", "o_orderstatus"))
      .as[(String, Long, Long, String, String)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("o_custkey")._2 == 0)          // no nulls
    assert(r("o_orderstatus")._3 == 3)      // F/O/P
    assert(r("o_orderstatus")._4 == "F" && r("o_orderstatus")._5 == "P")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // At cluster scale a selective dim filter should cut the FACT scan at
    // runtime too: Catalyst injects a bloom filter built from the filtered
    // creation side into the application side's scan. Default thresholds
    // target real sizes (10 GB application side), so lower them to see the
    // mechanism at test scale; broadcast is disabled to force the shuffle
    // join the feature exists for.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1B")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val dir = sf("sf0.01")
      val o = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val l = Tables.load(spark, dir, "lineitem")
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter built:\n${plan.take(4000)}")
      assert(plan.toLowerCase.contains("might_contain"),
        s"bloom filter built but not probed on the fact side:\n${plan.take(4000)}")
      assert(j.count() == 1)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without an exchange on the bucket key") {
    val dir = sf("sf0.001")
    IncrementalLoad.writeBucketed(Tables.load(spark, dir, "orders"),
      "orders_b", Seq("o_custkey"), nBuckets = 8)
    IncrementalLoad.writeBucketed(Tables.load(spark, dir, "customer"),
      "customer_b", Seq("c_custkey"), nBuckets = 8)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join must not shuffle on the bucket key:\n$plan")
    assert(joined.count() == 5)
  }

  test("zero-shuffle claims hold in the physical plan (chunking, fingerprints)") {
    import graft.operators.SequencePack
    val docs = Tables.load(spark, sf(), "documents")
    // chunkSliding: scan -> projections only, NO Exchange anywhere
    val chunks = SequencePack.chunkSliding(docs, "text", "doc_id", 64, 48)
    val p1 = chunks.queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"chunkSliding must be scan-side only:\n$p1")
    // media fingerprints: the decode/hash stage itself carries no
    // Exchange (synthesis + decode are adjacent mapPartitions)
    val media = graft.multimodal.Multimodal
      .synthesizeBmpTable(docs.select("doc_id"), "doc_id")
    val hashes = graft.multimodal.Multimodal.bmpAHash(media, grid = 4)
    val p2 = hashes.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), s"bmpAHash must not shuffle blobs:\n$p2")
    assert(chunks.count() > 0 && hashes.count() > 0)
  }

  test("hll distinct state: order/partition invariant, late-batch merge == recompute") {
    import graft.operators.DistinctSketch
    val ev = Tables.load(spark, sf("sf0.001"), "events")
    val daily = DistinctSketch.dailySketches(ev, "user_id", "ts")
    // union of per-day sketches estimates EXACTLY like one whole-history
    // sketch (registers keep maxima — order independent)
    val viaDays = DistinctSketch.estimateOver(daily)
      .select("estimate").as[Long].head()
    val whole = ev.agg(
      hll_sketch_estimate(hll_sketch_agg($"user_id")).as("e"))
      .as[Long].head()
    assert(viaDays == whole, s"daily-union $viaDays != whole-corpus $whole")
    // partition invariance of the state build
    val daily7 = DistinctSketch.dailySketches(ev.repartition(7), "user_id", "ts")
    val est = (d: org.apache.spark.sql.DataFrame) =>
      d.select($"day", DistinctSketch.estimate($"sketch").as("e"))
        .as[(java.sql.Date, Long)].collect().toMap
    assert(est(daily7) == est(daily))
    // late batch for existing days: merge of split states == recompute
    val (a, b) = (ev.filter($"event_id" % 3 === 0), ev.filter($"event_id" % 3 =!= 0))
    val merged = DistinctSketch.mergeStates(Seq(
      DistinctSketch.dailySketches(a, "user_id", "ts"),
      DistinctSketch.dailySketches(b, "user_id", "ts")))
    assert(est(merged) == est(daily), "merge must equal from-scratch")
    assert(merged.agg(sum($"n_rows")).as[Long].head() == ev.count())
    // error bound: within 5% of exact, every day
    val exact = ev.select(date_trunc("day", $"ts").cast("date").as("day"), $"user_id")
      .groupBy($"day").agg(countDistinct($"user_id").as("x"))
      .as[(java.sql.Date, Long)].collect().toMap
    est(daily).foreach { case (d, e) =>
      assert(math.abs(e - exact(d)).toDouble <= exact(d) * 0.05, s"day $d: $e vs ${exact(d)}")
    }
  }

  test("ivf-pq: recall at least LSH's at equal probe cost; exact rerank cosines") {
    val dir = sf("sf0.001")
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter($"vec_id" < 10)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val bruteDf = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 10)
    val brute = topSets(bruteDf)
    def recallOf(m: Map[Long, Set[Long]]): Double =
      brute.map { case (q, b) =>
        m.getOrElse(q, Set.empty).intersect(b).size.toDouble / b.size
      }.sum / brute.size
    val pqDf = Similarity.ivfPqTopK(e, queries, "vec_id", "embedding",
      dim = 64, k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 16,
      pqIters = 1, rerank = 40)
    val pqRecall = recallOf(topSets(pqDf))
    // equal probe cost: the q164 LSH settings (4 planes, radius 2)
    val lshRecall = recallOf(topSets(Similarity.lshTopK(e, queries,
      "vec_id", "embedding", dim = 64, k = 10, planes = 4, probeRadius = 2)))
    info(f"recall@10 pq=$pqRecall%.3f lsh=$lshRecall%.3f")
    assert(pqRecall >= lshRecall,
      f"ivf-pq recall $pqRecall%.3f below lsh $lshRecall%.3f")
    assert(pqRecall >= 0.5, f"ivf-pq recall floor: $pqRecall%.3f")
    // the rerank stage scores candidates with EXACT cosine: any pair the
    // brute-force list shares must carry an identical 6dp cosine
    val bruteCos = bruteDf.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    pqDf.select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().foreach { case (q, v, c) =>
        if (bruteCos.contains((q, v))) assert(bruteCos((q, v)) == c)
      }
    // determinism: a second run returns the identical result set
    val again = Similarity.ivfPqTopK(e, queries, "vec_id", "embedding",
      dim = 64, k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 16,
      pqIters = 1, rerank = 40)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(again == pqDf.as[(Long, Long, Double, Long)].collect().toSet)
  }
}
