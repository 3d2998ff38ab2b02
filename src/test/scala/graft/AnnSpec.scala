package graft

import graft.operators.{Hnsw, Ivf, Knn, Lsh}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
  private lazy val q: Array[Float] =
    emb.filter($"vec_id" === 0).select($"embedding").as[Seq[Float]].head().toArray

  private def exactIds(k: Int): Set[Long] =
    Knn.exactTopK(emb, "embedding", "vec_id", q, k)
      .select("vec_id").as[Long].collect().toSet

  test("exact knn plan has no shuffle (TakeOrderedAndProject)") {
    val plan = Knn.exactTopK(emb, "embedding", "vec_id", q, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Exchange"))
  }

  test("knn join matches per-query exact topk") {
    val qs = emb.filter($"vec_id" < 3)
    val joined = Knn.knnJoin(qs, "embedding", "vec_id", emb, "embedding", "vec_id", 5)
      .collect().groupBy(_.getLong(0))
    for (qid <- 0L until 3L) {
      val qv = emb.filter($"vec_id" === qid).select($"embedding").as[Seq[Float]].head().toArray
      val expect = Knn.exactTopK(emb, "embedding", "vec_id", qv, 5)
        .select("vec_id").as[Long].collect().toSeq
      val got = joined(qid).sortBy(_.getInt(1).toInt).map(_.getLong(2)).toSeq
      assert(got == expect, s"qid=$qid")
    }
  }

  test("ivf assign covers all rows; search recall >= 0.7 at nprobe=8/16") {
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val tagged = Ivf.assign(emb, "embedding", model).cache()
    assert(tagged.filter($"list_id".isNull || $"list_id" < 0).count() == 0)
    assert(tagged.count() == emb.count())
    // test data is isotropic gaussian (worst case for IVF pruning): probe
    // half the lists; real clustered corpora reach this recall at far
    // smaller nprobe.
    val got = Ivf.search(tagged, "embedding", "vec_id", model, q, 10, 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = (got & exactIds(10)).size / 10.0
    assert(recall >= 0.7, s"recall=$recall")
    // nprobe = nlists degenerates to exact
    val full = Ivf.search(tagged, "embedding", "vec_id", model, q, 10, 16)
      .select("vec_id").as[Long].collect().toSet
    assert(full == exactIds(10))
  }

  test("packed-tier searches (fp16 / int8) keep full-probe recall = exact knn") {
    // at nprobe = nlists the list pruning is exhaustive, so the ONLY
    // error source left is the storage quantization — fp16 rounding and
    // int8 scalar quantization must not reorder the top-10 materially
    val model = Ivf.build(emb, "embedding", 16)
    val tagged = Ivf.assign(emb, "embedding", model).cache()
    try {
      val exact = exactIds(10)
      val halfGot = tagged.select($"vec_id",
          graft.functions.VectorFunctions.packedHalfDistance(
            graft.functions.VectorFunctions.packHalf($"embedding"),
            graft.functions.VectorFunctions.packHalf(lit(q)), "l2").as("d"))
        .orderBy($"d", $"vec_id").limit(10)
        .select("vec_id").as[Long].collect().toSet
      assert((halfGot & exact).size >= 9, s"fp16 recall ${(halfGot & exact).size}/10")
      val r = emb.agg(min(array_min($"embedding".cast("array<double>"))),
        max(array_max($"embedding".cast("array<double>")))).head()
      val codes = tagged.select($"vec_id",
        graft.functions.VectorFunctions.int8Quantize($"embedding",
          lit(r.getDouble(0)), lit(r.getDouble(1))).as("c")).cache()
      val qc = codes.filter($"vec_id" === 0).select($"c".as("qc"))
      val intGot = codes.crossJoin(broadcast(qc))
        .select($"vec_id",
          graft.functions.VectorFunctions.int8DistSq($"c", $"qc").as("d"))
        .orderBy($"d", $"vec_id").limit(10)
        .select("vec_id").as[Long].collect().toSet
      assert((intGot & exact).size >= 7, s"int8 recall ${(intGot & exact).size}/10")
      codes.unpersist()
    } finally tagged.unpersist()
  }

  test("lsh ann returns candidates incl. self; recall reasonable") {
    val planes = Lsh.hyperplanes(64, 16)
    val got = Lsh.annTopK(emb, "embedding", "vec_id", q, 10, planes, 4, 4)
      .select("vec_id").as[Long].collect()
    assert(got.contains(0L)) // the query itself shares all buckets
    assert(got.length == 10)
  }

  test("persisted IVF index prunes partitions at the reader") {
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val index = Ivf.writeIndex(emb, "embedding", model, dir)
    val search = Ivf.search(index, "embedding", "vec_id", model, q, 10, 4)
    val scan = search.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters") && scan.contains("list_id"),
      s"no partition pruning in: $scan")
    // pruned search result equals in-memory tagged search
    val tagged = Ivf.assign(emb, "embedding", model)
    val a = search.collect().map(_.toSeq).toSeq
    val b = Ivf.search(tagged, "embedding", "vec_id", model, q, 10, 4)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("ivf knn join at nprobe=nlists equals broadcast knn join") {
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val tagged = Ivf.assign(emb, "embedding", model)
    val qs = emb.filter($"vec_id" < 3)
    val viaIvf = Ivf.knnJoin(qs, "embedding", "vec_id", tagged,
        "embedding", "vec_id", model, 5, 16)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    val viaBroadcast = Knn.knnJoin(qs, "embedding", "vec_id", emb,
        "embedding", "vec_id", 5)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    assert(viaIvf == viaBroadcast)
  }

  test("incremental ivf: appended rows searchable without rebuild; drift measured") {
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val old = emb.filter($"vec_id" % 10 =!= 0)
    val delta = emb.filter($"vec_id" % 10 === 0) // the 10% arriving later
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    Ivf.writeIndex(old, "embedding", model, dir)
    val index = Ivf.appendToIndex(delta, "embedding", model, dir)
    assert(index.count() == emb.count())
    // an appended vector is found by a PRUNED search with no rebuild:
    // its own list is by construction the first-probed one
    val qd = delta.filter($"vec_id" === 10).select($"embedding")
      .as[Seq[Float]].head().toArray
    val search = Ivf.search(index, "embedding", "vec_id", model, qd, 5, 4)
    val scan = search.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters"), s"pruning lost after append: $scan")
    assert(search.select("vec_id").as[Long].collect().head == 10L)
    // per-list drift is ~0 on the training distribution (converged
    // k-means centroids ARE the member means)...
    val drift = Ivf.centroidDrift(index, "embedding", model).collect()
    assert(drift.nonEmpty && drift.forall(_.getDouble(2) <= 0.1))
    assert(drift.map(_.getLong(1)).sum == emb.count())
    // ...and detects a shifted delta: appending displaced vectors must
    // move the affected lists' means off their frozen centroids
    val shifted = delta.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", x => x + lit(2.0f)).as("embedding"))
    val index2 = Ivf.appendToIndex(shifted, "embedding", model, dir)
    val drift2 = Ivf.centroidDrift(index2, "embedding", model).collect()
    assert(drift2.exists(_.getDouble(2) > 0.5),
      "drift metric failed to detect a shifted append")
  }

  test("bulk delete rewrites only affected list partitions") {
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    Ivf.writeIndex(emb.select("vec_id", "embedding"), "embedding", model, dir)
    val tagged = Ivf.assign(emb, "embedding", model)
    // victims: every member of one list + a few ids from another
    val victimList = tagged.groupBy("list_id").count().orderBy("count", "list_id")
      .select("list_id").as[Int].head()
    val wholeList = tagged.filter($"list_id" === victimList).select("vec_id")
    val extras = tagged.filter($"list_id" =!= victimList)
      .orderBy("vec_id").limit(3).select("vec_id")
    val victims = wholeList.union(extras)
    val nVictims = victims.count()
    // snapshot an untouched partition's file timestamps
    val untouched = tagged.filter($"list_id" =!= victimList)
      .join(extras, Seq("vec_id"), "left_anti")
      .select("list_id").distinct().orderBy("list_id").as[Int].head()
    def mtimes(lid: Int) = new java.io.File(s"$dir/list_id=$lid")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes(untouched)
    val after = Ivf.deleteFromIndex(spark, dir, "vec_id", victims)
    assert(after.count() == emb.count() - nVictims)
    assert(after.join(victims, Seq("vec_id"), "left_semi").count() == 0)
    assert(!new java.io.File(s"$dir/list_id=$victimList").exists(),
      "fully-emptied list partition should be gone")
    assert(mtimes(untouched) == before,
      "untouched list partition was rewritten")
    // pruned search still works on the compacted index
    val got = Ivf.search(after, "embedding", "vec_id", model, q, 5, 16)
    assert(got.count() == 5)
  }

  test("streaming embeddings index into IVF via foreachBatch; search sees them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    // seed the index with the first half; stream the rest in two batches
    val seed = emb.filter($"vec_id" < 250).select("vec_id", "embedding")
    Ivf.writeIndex(seed, "embedding", model, dir)
    val rest = emb.filter($"vec_id" >= 250)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(Ivf.streamingIndexWriter(model, "embedding", dir))
      .start()
    try {
      rest.grouped(rest.length / 2 + 1).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val index = spark.read.parquet(dir)
    assert(index.count() == emb.count())
    // a late-arriving vector is found by pruned search, no rebuild
    val late = rest.last
    val got = Ivf.search(index, "embedding", "vec_id", model,
      late._2.toArray, 3, 4).select("vec_id").as[Long].collect()
    assert(got.head == late._1)
  }

  test("nsw graph: degree bounded, self found, recall >= ivf at equal budget") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val index = Hnsw.buildIndex(emb, "embedding", "vec_id", numParts = 4, params).cache()
    val rows = index.collect()
    assert(rows.length == emb.count())
    assert(rows.forall(_.nbrs.length <= 2 * params.m), "degree cap violated")
    val got = Hnsw.search(index, q, 10, params)
      .select("vec_id").as[Long].collect()
    assert(got.length == 10)
    assert(got.head == 0L, "beam missed the query vector itself")
    val recallH = (got.toSet & exactIds(10)).size / 10.0
    // equal-budget comparison: 4 beams × ef 32 ≈ 128+ of 500 vectors
    // visited (~1/4 of the corpus); IVF at nprobe 4/16 scans ~1/4 too.
    val model = Ivf.build(emb, "embedding", nlists = 16)
    val tagged = Ivf.assign(emb, "embedding", model)
    val gotI = Ivf.search(tagged, "embedding", "vec_id", model, q, 10, 4)
      .select("vec_id").as[Long].collect().toSet
    val recallI = (gotI & exactIds(10)).size / 10.0
    assert(recallH >= recallI,
      s"graph recall $recallH below ivf recall $recallI at equal budget")
    assert(recallH >= 0.8, s"recall=$recallH")
  }

  test("clustered nsw shards route: pruned beams keep recall, full probe is exhaustive") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 48)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val index = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params).cache()
    assert(index.count() == emb.count())
    // routed search at nprobe=4/8 — isotropic data is IVF's worst case,
    // so assert a floor consistent with the ivf_search contract
    val routed = Hnsw.searchRouted(index, model, q, 10, nprobe = 4, params)
      .select("vec_id").as[Long].collect().toSet
    val recall = (routed & exactIds(10)).size / 10.0
    assert(recall >= 0.6, s"routed recall=$recall")
    assert(routed.contains(0L))
    // probing every shard must dominate the unrouted hash-shard search
    val full = Hnsw.searchRouted(index, model, q, 10, nprobe = 8, params)
      .select("vec_id").as[Long].collect().toSet
    val fullRecall = (full & exactIds(10)).size / 10.0
    assert(fullRecall >= recall)
  }

  /** Per-query reference rows in the many-query output shape
    * (qid, rank, nid, dist): one single-query search per distinct
    * query vector, ranked in its (dist, vec_id) order. */
  private def perQuery(qsDf: org.apache.spark.sql.DataFrame)(
      search: Array[Float] => org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
    val qs = qsDf.as[(Long, Seq[Float])].collect()
    val byVec = qs.map(_._2).distinct.map { v =>
      v -> search(v.toArray).select("vec_id", "dist").as[(Long, Double)].collect()
    }.toMap
    qs.flatMap { case (qid, v) =>
      byVec(v).zipWithIndex.map { case ((nid, d), i) => Seq[Any](qid, i + 1, nid, d) }
    }.toSet
  }

  test("nsw many-query search: per-query results match single-query search") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 4)
    val index = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params).cache()
    val qsDf = emb.filter($"vec_id" < 3).select($"vec_id", $"embedding")
    // nprobe = nlists routes every query to every shard: the many-query
    // form must return each single-query search's rows at their ranks
    val many = Hnsw.searchManyRoutedDF(index, model, qsDf,
        "vec_id", "embedding", 5, nprobe = 4, params)
      .collect().map(_.toSeq).toSet
    assert(many == perQuery(qsDf)(qv => Hnsw.search(index, qv, 5, params)))
  }

  test("routed many-query search: ~nprobe/nlists beam work, recall holds") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val clustered = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params).cache()
    val hashed = Hnsw.buildIndex(emb, "embedding", "vec_id", numParts = 8, params).cache()
    val qsDf = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding")
    val qs = qsDf.as[(Long, Seq[Float])].collect()
    def recallOf(rows: Set[Seq[Any]]): Double = {
      val got = rows.toSeq.groupBy(_.head.asInstanceOf[Long])
        .view.mapValues(_.map(_(2).asInstanceOf[Long]).toSet).toMap
      qs.map { case (qid, qv) =>
        val exact = Knn.exactTopK(emb, "embedding", "vec_id", qv.toArray, 5)
          .select("vec_id").as[Long].collect().toSet
        (got.getOrElse(qid, Set.empty) & exact).size / 5.0
      }.sum / qs.length
    }
    def routedRows(nprobe: Int): Set[Seq[Any]] =
      Hnsw.searchManyRoutedDF(clustered, model, qsDf,
          "vec_id", "embedding", 5, nprobe, params)
        .collect().map(_.toSeq).toSet
    // routed beams touch nprobe/nlists = half the shards; unrouted
    // per-query search beams all of them on hash shards. Clustered
    // routing must hold recall at half the beam work (isotropic data is
    // the worst case for routing, hence >= unrouted - 0.1 not strict >=).
    val routed = recallOf(routedRows(4))
    val unrouted = recallOf(perQuery(qsDf)(qv => Hnsw.search(hashed, qv, 5, params)))
    assert(routed >= unrouted - 0.1,
      s"routed recall $routed collapsed vs unrouted $unrouted")
    assert(routed >= 0.6, s"routed recall=$routed")
    // full-probe routing degenerates to searching every shard: results
    // must match per-query search on the SAME clustered index exactly
    val all = perQuery(qsDf)(qv => Hnsw.search(clustered, qv, 5, params))
    assert(routedRows(8) == all)
  }

  test("DataFrame-form routed many-query search equals per-query routed search") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val clustered = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params).cache()
    val qsDf = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding")
    // the DF form must agree row-for-row (same probes, same beams, same
    // rerank) — distributed routing is a pure re-plumbing of per-query
    // routed search, not a different algorithm
    val ref = perQuery(qsDf)(qv => Hnsw.searchRouted(clustered, model, qv, 5, nprobe = 4, params))
    val dfForm = Hnsw.searchManyRoutedDF(clustered, model, qsDf,
        "vec_id", "embedding", 5, nprobe = 4, params)
      .collect().map(_.toSeq).toSet
    assert(dfForm == ref)
  }

  /** A Zipfian query load: 60 queries reuse vector 0's embedding
    * (distinct qids 100..159), so their probes all land on the same
    * shard set; `uniform` queries (vec_id 0 until uniform) ride along. */
  private def zipfianQueries(uniform: Int) = {
    val hot = emb.filter($"vec_id" === 0).select($"embedding").as[Seq[Float]].head()
    val hotDf = spark.range(100, 160).select($"id".cast("long").as("vec_id"),
      typedlit(hot).cast("array<float>").as("embedding"))
    emb.filter($"vec_id" < uniform).select($"vec_id", $"embedding").unionByName(hotDf)
  }

  test("auto salt (default): Zipfian query load matches per-query routed search, no flag") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val clustered = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params).cache()
    // the DEFAULT path derives the salt on its own and must still agree
    // with per-query routed search row for row
    val qsDf = zipfianQueries(4)
    val ref = perQuery(qsDf)(qv => Hnsw.searchRouted(clustered, model, qv, 5, nprobe = 2, params))
    val auto = Hnsw.searchManyRoutedDF(clustered, model, qsDf,
        "vec_id", "embedding", 5, nprobe = 2, params)
      .collect().map(_.toSeq).toSet
    assert(auto == ref)
  }

  test("routing salt: a Zipfian load derives salt > 1, a uniform load derives 1") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    def saltOf(qsDf: org.apache.spark.sql.DataFrame, nprobe: Int): Int =
      Hnsw.routingSalt(qsDf, "embedding",
        Ivf.probeLists(spark, col("embedding"), model, nprobe))
    val uniform = saltOf(emb.filter($"vec_id" < 10).select($"vec_id", $"embedding"), 4)
    assert(uniform == 1, s"uniform load derived salt $uniform")
    // 60 of 70 queries on one of 8 shards: max/mean per-shard routed
    // counts > 3, so the shard rows replicate across salt buckets — and
    // the salted cogroup must still agree with per-query routed search
    val qsDf = zipfianQueries(10)
    val zipf = saltOf(qsDf, 1)
    assert(zipf > 1, s"Zipfian load derived salt $zipf")
    val clustered = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params).cache()
    val ref = perQuery(qsDf)(qv => Hnsw.searchRouted(clustered, model, qv, 5, nprobe = 1, params))
    val salted = Hnsw.searchManyRoutedDF(clustered, model, qsDf,
        "vec_id", "embedding", 5, nprobe = 1, params)
      .collect().map(_.toSeq).toSet
    assert(salted == ref)
  }

  test("pq: codes are m bytes, encode is deterministic, adc+rerank recalls") {
    import graft.operators.Pq
    val model = Pq.build(emb, "embedding", m = 8, k = 16)
    assert(model.m == 8 && model.k == 16 && model.subDim == 8)
    val enc = Pq.encode(emb, "embedding", "vec_id", model)
    val codes = enc.as[(Long, Array[Byte])].collect()
    assert(codes.forall(_._2.length == 8), "code must be one byte per subspace")
    // deterministic: re-encoding produces identical codes
    val again = Pq.encode(emb, "embedding", "vec_id", model)
      .as[(Long, Array[Byte])].collect().map(c => c._1 -> c._2.toSeq).toMap
    assert(codes.forall(c => again(c._1) == c._2.toSeq))
    // a corpus vector used as its own query must be found at rank 1
    // after exact rerank (its ADC distance is minimal for its own code)
    val qv = emb.filter($"vec_id" === 7).select($"embedding")
      .as[Seq[Float]].head().toArray
    val top = Pq.search(enc, emb, "embedding", "vec_id", model, qv, 10,
      rerank = 16).collect()
    assert(top.head.getLong(0) == 7L, "self-query must rerank to top-1")
    // recall vs exact at the gate budget
    val found = top.map(_.getLong(0)).toSet
    val exact = graft.operators.Knn.exactTopK(emb, "embedding", "vec_id", qv, 10)
      .collect().map(_.getLong(0)).toSet
    assert((found intersect exact).size >= 6,
      s"pq recall too low: ${(found intersect exact).size}/10")
  }

  test("ivf-pq: residual codes recall within probed lists, self-query top-1") {
    import graft.operators.Pq
    val ivf = Ivf.build(emb, "embedding", nlists = 8)
    val (pq, enc) = Pq.buildResidual(emb, "embedding", "vec_id", ivf, m = 8, k = 16)
    assert(enc.columns.toSeq == Seq("id", "list_id", "pq_code"))
    // every row encoded exactly once, lists within range
    assert(enc.count() == emb.count())
    val qv = emb.filter($"vec_id" === 3).select($"embedding")
      .as[Seq[Float]].head().toArray
    val top = Pq.searchIvfPq(enc, emb, "embedding", "vec_id", ivf, pq, qv,
      10, nprobe = 8, rerank = 16).collect()
    assert(top.head.getLong(0) == 3L, "self-query must rerank to top-1")
    val found = top.map(_.getLong(0)).toSet
    val exact = graft.operators.Knn.exactTopK(emb, "embedding", "vec_id", qv, 10)
      .collect().map(_.getLong(0)).toSet
    // nprobe = nlists: no pruning loss, only PQ shortlist loss
    assert((found intersect exact).size >= 6,
      s"ivf-pq recall too low: ${(found intersect exact).size}/10")
  }

  test("broadcast-centroid routing equals the literal-centroid plan") {
    // force the big-nlists path (broadcast variable + UDF) and assert
    // row-for-row parity with the codegen'd literal form for
    // assignment, DF-routed search and the IVF knn join
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val qsDf = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding")
    def both[T](f: => T): (T, T) = {
      val lit = f
      spark.conf.set("graft.ivf.literalCentroidLimit", "0")
      try { (lit, f) }
      finally spark.conf.unset("graft.ivf.literalCentroidLimit")
    }
    val (assignLit, assignBc) = both {
      Ivf.assign(emb, "embedding", model)
        .select($"vec_id", $"list_id").collect().map(_.toSeq).toSet
    }
    assert(assignLit == assignBc)
    val (routedLit, routedBc) = both {
      val clustered = Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params)
      Hnsw.searchManyRoutedDF(clustered, model, qsDf,
          "vec_id", "embedding", 5, nprobe = 4, params)
        .collect().map(_.toSeq).toSet
    }
    assert(routedLit == routedBc)
    val tagged = Ivf.assign(emb, "embedding", model)
    val (joinLit, joinBc) = both {
      Ivf.knnJoin(qsDf, "embedding", "vec_id", tagged,
          "embedding", "vec_id", model, 5, nprobe = 4)
        .collect().map(_.toSeq).toSet
    }
    assert(joinLit == joinBc)
  }

  test("shard compaction equals a fresh clustered build on the same rows") {
    val params = Hnsw.Params(m = 8, efConstruction = 48, efSearch = 32)
    val model = Ivf.build(emb, "embedding", nlists = 8)
    // fragmented index: base build plus an "append" that arrived as its
    // own clustered shards (disjoint halves of the corpus)
    val baseHalf = emb.filter($"vec_id" % 2 === 0)
    val delta = emb.filter($"vec_id" % 2 === 1)
    val fragmented = Hnsw.buildIndexClustered(baseHalf, "embedding", "vec_id", model, params)
      .union(Hnsw.buildIndexClustered(delta, "embedding", "vec_id", model, params))
    // structural comparison — GraphRow holds Array fields, whose
    // toString/equals are JVM identity, so compare value tuples
    def canon(ds: org.apache.spark.sql.Dataset[Hnsw.GraphRow]) =
      ds.collect().map(r => (r.part_id, r.id, r.vec.toSeq, r.nbrs.toSeq))
        .sortBy(r => (r._1, r._2)).toSeq
    val compacted = canon(Hnsw.compactShards(fragmented, model, params))
    val fresh = canon(Hnsw.buildIndexClustered(emb, "embedding", "vec_id", model, params))
    assert(compacted == fresh)
  }

  test("nsw index round-trips through parquet") {
    val index = Hnsw.buildIndex(emb, "embedding", "vec_id", numParts = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_nsw").toString
    index.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir).as[Hnsw.GraphRow]
    val a = Hnsw.search(index, q, 10).collect().map(_.toSeq).toSeq
    val b = Hnsw.search(reloaded, q, 10).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("packed fp16 distance equals round-trip fp16 distance") {
    import graft.functions.{VectorFunctions => VF}
    val rt = emb.select($"vec_id",
      VF.l2Distance(VF.halfvec($"embedding"), VF.halfvec(lit(q))).as("d"))
      .orderBy("vec_id").as[(Long, Double)].collect()
    val pk = emb.select($"vec_id",
      VF.packedHalfDistance(VF.packHalf($"embedding"),
        VF.packHalf(lit(q)), "l2").as("d"))
      .orderBy("vec_id").as[(Long, Double)].collect()
    assert(rt.sameElements(pk))
    // codec law: decode(encode(v)) == the fp16 round-trip of v
    val un = emb.select(VF.unpackHalf(VF.packHalf($"embedding")))
      .as[Seq[Float]].collect()
    val rt2 = emb.select(VF.halfvec($"embedding")).as[Seq[Float]].collect()
    assert(un.zip(rt2).forall { case (a, b) => a == b })
  }

  test("binquant rerank finds exact top-1 and mostly exact top-10") {
    val got = Lsh.binQuantRerank(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect()
    assert(got.head == 0L)
    val recall = (got.toSet & exactIds(10)).size / 10.0
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("filtered KNN: predicate reaches the scan, heap top-k, exact k") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val res = Knn.exactTopK(emb.filter(col("label") === 2),
      "embedding", "vec_id", q, 10)
    val plan = res.queryExecution.executedPlan.toString
    // the predicate must reach the SCAN node — as parquet PushedFilters
    // on a fresh read, or as InMemoryTableScan filters when an earlier
    // test left the embeddings cached (both prune at the source; the
    // full-suite run hits the cached shape, testOnly the parquet one)
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,2)]") ||
      plan.contains("InMemoryTableScan [embedding") &&
        plan.contains("(label") && plan.contains("= 2)"),
      s"label predicate should reach the scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Exchange"),
      s"filtered top-k must stay a shuffle-free bounded heap:\n$plan")
    val rows = res.collect()
    assert(rows.length == 10, "k rows from the filtered population")
    // every result actually satisfies the predicate
    val labels = emb.filter(col("label") === 2)
      .select("vec_id").as[Long].collect().toSet
    assert(rows.forall(r => labels(r.getLong(0))))
  }

  test("radius search: triangle-inequality pruning is lossless and prunes") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val tagged = Ivf.assign(emb, "embedding", model).cache()
    try {
      val radii = Ivf.listRadii(tagged, "embedding", model)
      assert(radii.length == model.nlists && radii.forall(_ >= 0.0))
      val rnd = new scala.util.Random(3)
      val ids = emb.select("vec_id").as[Long].collect()
      var prunedAtLeastOnce = false
      (1 to 5).foreach { _ =>
        val q = emb.filter(col("vec_id") === ids(rnd.nextInt(ids.length)))
          .select("embedding").head().getSeq[Float](0).toArray
        val eps = 1.0 + rnd.nextDouble() * 0.4
        val got = Ivf.rangeSearch(tagged, "embedding", "vec_id", model,
            radii, q, eps)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        val brute = emb.select(col("vec_id"),
            round(graft.functions.VectorFunctions
              .l2Distance(col("embedding"), lit(q)), 6).as("d"))
          .filter(col("d") <= eps)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(got == brute, s"pruned result must equal brute force at eps=$eps")
        // count lists the pruning keeps — must drop some for small eps
        def l2(a: Array[Float], b: Array[Float]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
          math.sqrt(acc)
        }
        val kept = model.centroids.indices
          .count(i => l2(q, model.centroids(i)) - radii(i) <= eps)
        if (kept < model.nlists) prunedAtLeastOnce = true
      }
      assert(prunedAtLeastOnce, "pruning never dropped a list — radii too wide")
    } finally tagged.unpersist()
  }

  test("bit ivf: deterministic k-majorities, lossless full probe, pruned recall") {
    import graft.operators.IvfBit
    val VF = graft.functions.VectorFunctions
    val codes = emb.select($"vec_id", VF.binaryQuantize($"embedding").as("code"))
      .cache()
    try {
      val qc = IvfBit.quantize(q)
      // driver-side quantize == the BinaryQuantize expression's bytes
      val exprQc = codes.filter($"vec_id" === 0)
        .select($"code").head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(qc, exprQc))

      val model = IvfBit.build(codes, "code", nlists = 16)
      assert(model.nlists == 16 && model.nbits == 64)
      // training is deterministic: same data -> bit-identical centroids
      val model2 = IvfBit.build(codes, "code", nlists = 16)
      assert(model.centroids.zip(model2.centroids)
        .forall { case (a, b) => java.util.Arrays.equals(a, b) })

      val dir = java.nio.file.Files.createTempDirectory("graft_ivfbit").toString
      val index = IvfBit.writeIndex(codes, "code", model, dir)
      assert(index.count() == codes.count())

      // the probed search prunes list partitions at the reader and
      // ranks through a bounded TakeOrdered
      val s4 = IvfBit.search(index, "code", "vec_id", model, qc, 4, 10)
      val plan = s4.queryExecution.executedPlan.toString
      val scan = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
      assert(scan.contains("PartitionFilters") && scan.contains("list_id"),
        s"no partition pruning in: $scan")
      assert(plan.contains("TakeOrderedAndProject"))

      // probing ALL lists is lossless: equals exact Hamming top-10
      val exact = codes.select($"vec_id",
          VF.hammingDistance($"code", lit(qc)).cast("long").as("d"))
        .orderBy($"d", $"vec_id").limit(10)
        .select("vec_id").as[Long].collect().toSeq
      val full = IvfBit.search(index, "code", "vec_id", model, qc, 16, 10)
        .select("vec_id").as[Long].collect().toSeq
      assert(full == exact, "nprobe=nlists must equal exact Hamming KNN")

      // pruned recall@10 at nprobe=4/16 (reported; gate bound is 5)
      val got = s4.select("vec_id").as[Long].collect().toSet
      val hits = (got & exact.toSet).size
      info(s"bit-IVF recall@10 at nprobe=4/16: $hits/10")
      assert(hits >= 5, s"bit-IVF recall $hits/10")
    } finally codes.unpersist()
  }

  test("hnsw bit tier: the L2²==Hamming reduction is exact; recall holds") {
    import graft.operators.{Hnsw, IvfBit}
    val VF = graft.functions.VectorFunctions
    val codes = emb.select($"vec_id", VF.binaryQuantize($"embedding").as("code"))
    val qc = IvfBit.quantize(q)
    val qb = new Array[Float](qc.length * 8)
    qc.indices.foreach { i =>
      (0 until 8).foreach { b =>
        if ((qc(i) & (0x80 >>> b)) != 0) qb(i * 8 + b) = 1f
      }
    }
    // the reduction: L2² over unpacked 0/1 vectors equals Hamming over
    // the packed bytes, row for row — the graph search consumes only
    // distances, so its Hamming behavior is exact, not approximated
    val mismatch = codes.select(
        VF.hammingDistance($"code", lit(qc)).as("h"),
        VF.l2SquaredDistance(
          IvfBit.unpackBitsCol($"code").cast("array<float>"), lit(qb)).as("l"))
      .filter($"h" =!= $"l").count()
    assert(mismatch == 0L, "L2² over 0/1 vectors diverged from Hamming")

    val bits = codes.select($"vec_id",
      IvfBit.unpackBitsCol($"code").cast("array<float>").as("bits"))
    val index = Hnsw.buildIndex(bits, "bits", "vec_id", numParts = 8)
    val got = Hnsw.search(index, qb, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val exact = codes.select($"vec_id",
        VF.hammingDistance($"code", lit(qc)).cast("long").as("d"))
      .orderBy($"d", $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val hits = (got & exact).size
    info(s"hnsw-bit recall@10: $hits/10")
    assert(hits >= 5, s"hnsw-bit recall $hits/10")
  }

  test("autoNprobe preserves production budgets, widens on thin lists") {
    import graft.operators.Ivf
    // structured regime (perList >= 8k): the production base, untouched
    assert(Ivf.autoNprobe(2000, 16, 10, 4, 5) === 4)    // sf0.1 bench budget
    assert(Ivf.autoNprobe(1000000000L, 4096, 10, 8, 5) === 8)
    // thin regime: isotropic power sizing — deterministic recall
    assert(Ivf.autoNprobe(500, 16, 10, 4, 5) === 16)
    assert(Ivf.autoNprobe(500, 16, 5, 6, 3) === 16)
    // monotone non-increasing in n
    val vals = Seq(16L, 256L, 1280L, 2048L, 4096L)
      .map(n => Ivf.autoNprobe(n, 16, 10, 4, 5))
    assert(vals === vals.sorted.reverse)
  }

  test("recall_ok holds across sf0.001 / sf0.01 / sf0.1 on the probe-budget gates") {
    val keys = Seq("ivf_search", "ivf_half_search", "ivf_int8_search", "hnsw_routed")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); k <- keys) {
      val rows = graft.SparkEntry.queries(k)(spark, s"/root/testdata/$sf").collect()
      assert(rows.nonEmpty, s"$k at $sf returned nothing")
      rows.foreach { r =>
        assert(r.getAs[Boolean]("recall_ok"), s"$k at $sf: recall flipped ($r)")
      }
    }
  }
}
