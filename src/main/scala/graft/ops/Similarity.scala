package graft.ops

import graft.engine.SourceRegistry
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  * Brute-force cosine top-k is the exactness baseline (a single codegen'd
  * scan + TakeOrderedAndProject — no shuffle of the corpus); the
  * hyperplane-LSH variant is the 100 TB path: bucket once (one narrow
  * shuffle), then scan only the probed buckets. */
object Similarity {

  /** Deterministic Rademacher (±1) hyperplanes: seed-stable across runs. */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Bit-signature of `vec` against the hyperplanes: bit p = sign of
    * dot(vec, plane_p). One codegen'd loop over the vector (the
    * [[graft.functions.PlaneSignatures]] expression with a single band). */
  def hyperplaneSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    VectorFunctions.planeSignatures(vec, planes, planes.length).getItem(0)

  /** All band signatures of `vec` in one pass (band-major plane order). */
  def bandSignatures(vec: Column, planes: Seq[Seq[Double]], rowsPerBand: Int): Column =
    VectorFunctions.planeSignatures(vec, planes, rowsPerBand)

  /** Exact top-k by cosine against one query vector. Plans as
    * scan → project(cosine) → TakeOrderedAndProject: no shuffle, fully
    * parallel, k rows to the driver. Ties broken by id for determinism. */
  def bruteForceTopK(df: DataFrame, id: Column, vec: Column,
      query: Seq[Double], k: Int): DataFrame = {
    df.select(id.as("vec_id"),
        VectorFunctions.cosine(vec, typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched [[bruteForceTopK]]: the exact cosine top-k id sets for MANY
    * query vectors in ONE job. Per-query results are IDENTICAL to the
    * one-query form — the same [[graft.functions.CosineSimilarity]]
    * arithmetic (interleaved accumulation, one sqrt) scores every
    * (query, corpus) pair, and the per-query rank uses the same
    * (cosine desc, id asc) tie-break — only the execution shape changes:
    * the queries ride the plan as ONE literal array, each corpus row
    * fans out over it inside the scan, and a per-query rank window
    * replaces N sequential TakeOrdered jobs. N driver-paced jobs → 1
    * (guide §2.6/§5: the recall gates' cost was the sequential driver
    * loop, not the arithmetic). Query count × corpus must be modest
    * (recall-gate scale: 20 × corpus); at 100 TB use per-query top-k
    * over an index instead. */
  def bruteForceTopKBatch(df: DataFrame, id: Column, vec: Column,
      queries: Seq[(Long, Seq[Double])], k: Int): Map[Long, Set[Long]] = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty, "bruteForceTopKBatch needs at least one query")
    val qlit = typedLit(queries.map { case (qid, qv) => (qid, qv) })
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    df.select(id.cast("long").as("vec_id"), vec.as("__v"))
      .select(col("vec_id"), col("__v"), explode(qlit).as("__q"))
      .select(col("__q").getField("_1").as("qid"), col("vec_id"),
        VectorFunctions.cosine(col("__v"), col("__q").getField("_2")).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("qid"), col("vec_id"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
  }

  /** Matryoshka (MRL) funnel retrieval: score the corpus on the FIRST
    * `mDims` dimensions only (the cheap pass — an MRL-trained embedding
    * front-loads information, so the prefix cosine is a high-recall
    * proxy), keep the `rerank` best candidates, then re-rank those with
    * the full-width exact cosine. The standard two-stage ANN funnel
    * without any index to build or maintain.
    *
    * Scale shape: the wide pass touches only an `mDims`-slice of each
    * vector (at mDims = d/4 that is 4× less arithmetic and — with the
    * embedding stored dimension-sliced — 4× less I/O); the exact pass is
    * rerank-sized, not corpus-sized. Both stages are scans + top-k
    * (TakeOrderedAndProject), no shuffle of the corpus. Determinism:
    * both stages tie-break on id.
    * Output: top `k` (vec_id, cosine), full-width scores. */
  def matryoshkaTopK(df: DataFrame, id: Column, vec: Column,
      query: Seq[Double], mDims: Int, rerank: Int, k: Int): DataFrame = {
    require(mDims >= 1 && mDims < query.length,
      s"mDims must be in [1, dim): $mDims vs dim ${query.length}")
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val cands = df.select(id.as("vec_id"), vec.cast("array<double>").as("__v"))
      .withColumn("__pc", VectorFunctions.cosine(
        slice(col("__v"), 1, mDims), typedLit(query.take(mDims))))
      .orderBy(col("__pc").desc, col("vec_id"))
      .limit(rerank)
    cands.select(col("vec_id"),
        VectorFunctions.cosine(col("__v"), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Maximal Marginal Relevance re-rank: greedily pick `k` results from
    * the `nCand` most-relevant candidates, each step maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the diversity-aware
    * re-rank that keeps a near-dup-heavy corpus from returning five
    * copies of the same page (λ=1 is plain relevance, λ→0 pure
    * diversity).
    *
    * Scale shape: the corpus pays ONE brute/ANN top-`nCand` pass (heap
    * top-k, no shuffle — swap in any s02/s03 index for the candidate
    * stage at scale); the greedy selection is O(k·nCand) arithmetic on
    * the RESULT-SIZED candidate table, driver-side by the same
    * boundedness argument as the BPE merge table (`Bpe.scala`) — it is
    * sequential by definition, and nCand rows × dim doubles is KBs.
    * Determinism: per-step scores are 6-dp floored before the argmax,
    * ties break on id, and every cosine is the same sequential-fold
    * arithmetic the [[graft.functions.CosineSimilarity]] expression
    * uses, so any engine replays the exact selection.
    * Output: (rank, vec_id, rel6, mmr6) — rank 1 has no penalty term,
    * so its mmr6 is λ·rel. */
  def mmrTopK(df: DataFrame, id: Column, vec: Column, query: Seq[Double],
      k: Int, nCand: Int, lambda: Double): DataFrame = {
    require(k >= 1 && nCand >= k, s"need 1 <= k <= nCand: k=$k nCand=$nCand")
    require(lambda > 0.0 && lambda <= 1.0,
      s"lambda out of (0,1] ($lambda): at 0 every first-step score ties at " +
        "0 and the 'ranking' is just the id order")
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      // EXACTLY CosineSimilarity's arithmetic (one sqrt of the product,
      // interleaved accumulation) so driver-side sims replay bitwise
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val cand = bruteForceTopK(df, id, vec.cast("array<double>"), query, nCand)
      .join(df.select(id.as("vec_id"), vec.cast("array<double>").as("__v")),
        "vec_id")
      .orderBy(col("cosine").desc, col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](r.fieldIndex("__v"))))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    while (selected.length < k) {
      val scored = cand.iterator.filterNot(c => chosen(c._1)).map {
        case (cid, rel, cv) =>
          val pen = if (selected.isEmpty) 0.0
            else cand.iterator.filter(x => chosen(x._1))
              .map(s => cos(cv, s._3)).max
          (cid, rel, r6(lambda * rel - (1.0 - lambda) * pen))
      }.toSeq
      val best = scored.minBy { case (cid, _, m) => (-m, cid) }
      selected += ((best._1, r6(best._2), best._3))
      chosen += best._1
    }
    selected.toSeq.zipWithIndex
      .map { case ((cid, rel, m), i) => (i + 1, cid, rel, m) }
      .toDF("rank", "vec_id", "rel6", "mmr6")
  }

  /** IVF (inverted-file) index: k-means centroids over the corpus; each
    * vector is assigned to its nearest centroid's partition list. Queries
    * probe only the `nProbe` nearest centroids' lists. The index is built
    * once (seeded, deterministic) and reused across queries — the classic
    * ANN scale path when the corpus outgrows per-query scans. */
  final case class IvfIndex(assigned: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Double]]) {

    /** Exact cosine top-k restricted to the nProbe nearest clusters. */
    def topK(query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      val probe = centroids.zipWithIndex
        .sortBy { case (c, _) => -cos(query, c.toSeq) }
        .take(nProbe).map(_._2).toSeq
      assigned
        .filter(col("cluster").isin(probe: _*))
        .select(col("vec_id"), VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Build an IVF index with `nLists` k-means clusters (seeded). */
  def buildIvf(df: DataFrame, id: Column, vec: Column, nLists: Int,
      seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.linalg.Vector
    val base = df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .withColumn("features", array_to_vector(col("v")))
    val model = new KMeans().setK(nLists).setSeed(seed).setFeaturesCol("features")
      .fit(base)
    val assigned = model.transform(base)
      .select(col("vec_id"), col("v"), col("prediction").as("cluster"))
      .cache()
    IvfIndex(assigned, model.clusterCenters.map(_.toArray))
  }

  /** Assign vectors to an EXISTING set of IVF centroids: exact
    * squared-Euclidean argmin (k-means' assignment rule, spelled as a
    * deterministic left fold — ties to the lowest list index). The
    * centroids ride the plan as a LITERAL (nLists×dim is knob-sized),
    * so this is ONE scan with no join and no shuffle — the
    * [[nearestCentroidConfusion]] discipline. Output: (vec_id, v,
    * cluster), the [[IvfIndex.assigned]] schema. */
  def ivfAssign(df: DataFrame, id: Column, vec: Column,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign needs at least one centroid")
    val v = vec.cast("array<double>")
    val candidates = centroids.zipWithIndex.map { case (c, i) =>
      val d2 = aggregate(
        zip_with(v, typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(i).as("l"))
    }
    df.select(id.as("vec_id"), v.as("v"),
      array_min(array(candidates: _*)).getField("l").as("cluster"))
  }

  /** Incremental IVF maintenance: fold a delta of NEW vectors into an
    * existing index WITHOUT re-fitting — each delta vector is assigned
    * to its nearest existing centroid ([[ivfAssign]]) and appended to
    * that inverted list. This is the 100 TB growth path: the k-means
    * fit runs once (or per re-balance epoch); daily corpus growth costs
    * one delta-sized scan, never a full-corpus re-cluster, and queries
    * probe the upserted index exactly as before. The centroids are
    * unchanged by construction, so probe routing and every previously
    * indexed vector's list are stable — the same contract
    * [[graft.ops.Dedup]]'s LSH index maintenance (e10) and the KMV/
    * rollup maintenance gates (e12/e13) pin: incremental ≡ from-scratch
    * against the SAME parameters. Re-fit when the delta's distribution
    * drifts enough that per-list occupancy skews (the caller-observable
    * signal: max/mean list size).
    *
    * The delta must carry NEW vec_ids; upserting an existing id is a
    * caller bug (both rows would serve queries) — same latest-wins
    * contract as the lake CDC ops, enforced upstream. */
  def ivfUpsert(idx: IvfIndex, delta: DataFrame, id: Column,
      vec: Column): IvfIndex =
    IvfIndex(
      idx.assigned.unionByName(ivfAssign(delta, id, vec, idx.centroids)),
      idx.centroids)

  /** Incremental IVF ERASURE — the other half of index maintenance
    * ([[ivfUpsert]] covers growth; this covers deletion/right-to-be-
    * forgotten): anti-join the tombstoned ids out of the inverted
    * lists, centroids untouched. Because [[ivfAssign]] is a pure
    * per-vector function of the centroids, removing rows can never
    * change any surviving row's list — incremental-with-deletes is
    * IDENTICAL to a from-scratch assignment of the surviving set
    * against the same centroids (the e10 LSH upsert+erasure contract,
    * applied to IVF; gated by e16). Cost: one anti-join, broadcast
    * when the tombstone set is small (the usual case — AQE picks it),
    * never a rebuild. Queries probe the shrunk lists exactly as
    * before; re-fit on the same occupancy-skew signal as upsert when
    * mass deletion hollows out lists. */
  def ivfDelete(idx: IvfIndex, tombstones: DataFrame, id: Column): IvfIndex =
    IvfIndex(
      idx.assigned.join(tombstones.select(id.as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti"),
      idx.centroids)

  /** Persist an IVF index: the inverted lists (assigned) as a parquet
    * table, the centroids (tiny — nLists×dim doubles) as one parquet
    * table of (cluster, values). This is what makes [[ivfUpsert]] /
    * [[ivfDelete]] a PRODUCTION maintenance story rather than a
    * session-bound one: a deployment fits once, saves, and every later
    * maintenance batch loads the index, folds its delta/tombstones in,
    * and saves back — the k-means fit never re-runs. Doubles round-trip
    * parquet bit-exactly, so a reloaded index assigns/probes
    * IDENTICALLY to the never-persisted one (gated by e17). */
  def saveIvf(idx: IvfIndex, dir: String): Unit = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    idx.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    idx.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "values")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load an IVF index written by [[saveIvf]]. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    import spark.implicits._
    val cents = SourceRegistry.parquet(spark, s"$dir/centroids")
      .select(col("cluster"), col("values"))
      .as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
    require(cents.nonEmpty, s"loadIvf: no centroids under $dir")
    IvfIndex(SourceRegistry.parquet(spark, s"$dir/assigned"), cents)
  }

  /** kNN join: for every query vector, its k nearest corpus vectors by
    * cosine. The corpus is broadcast and each partition streams its query
    * rows against it with a bounded heap — no shuffle and no n×m row
    * materialization (the equivalent crossJoin + window formulation
    * materializes and sorts n·m rows). mapPartitions is justified here
    * (preference order (d)): the per-row bounded-heap loop has no
    * DataFrame expression form that avoids the n×m intermediate.
    *
    * This is the SMALL-CORPUS variant by contract: the corpus is
    * collected to the driver and broadcast, so it REFUSES corpora above
    * `maxCorpusRows` (default 500k rows ≈ 400 MB at dim 100 doubles)
    * instead of silently OOMing the driver — route big corpora through
    * [[knnJoinIvfAuto]] (or [[buildIvf]]/[[annTopK]] per side). The
    * bound is probed with a limit-scan, not a full count. Ties break by
    * corpus id. */
  def knnJoinBroadcast(queries: DataFrame, corpus: DataFrame,
      qId: Column, qVec: Column, cId: Column, cVec: Column, k: Int,
      maxCorpusRows: Int = 500000): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probed = corpus.select(cId.cast("long").as("cid")).limit(maxCorpusRows + 1).count()
    require(probed <= maxCorpusRows,
      s"knnJoinBroadcast: corpus exceeds $maxCorpusRows rows — it is collected " +
        "to the driver and broadcast, which does not scale; use " +
        "Similarity.knnJoinIvfAuto (IVF-routed, no driver collect) for large corpora, " +
        "or raise maxCorpusRows explicitly if the driver can hold it")
    val corpusLocal: Array[(Long, Array[Double])] =
      corpus.select(cId.cast("long"), cVec.cast("array<double>"))
        .as[(Long, Seq[Double])].collect().map { case (i, v) => (i, v.toArray) }
    val bc = spark.sparkContext.broadcast(corpusLocal)
    val q = queries.select(qId.cast("long"), qVec.cast("array<double>"))
      .as[(Long, Seq[Double])]
    q.mapPartitions { it =>
      val corp = bc.value
      it.flatMap { case (qid, qv) =>
        val qa = qv.toArray
        var qn = 0.0; var i = 0
        while (i < qa.length) { qn += qa(i) * qa(i); i += 1 }
        // bounded max-heap of size k ordered worst-first
        val ord = Ordering.by((t: (Long, Double)) => (t._2, -t._1))
        val heap = scala.collection.mutable.PriorityQueue.empty(ord.reverse)
        for ((cid, cv) <- corp if cid != qid) {
          var dot = 0.0; var cn = 0.0; var j = 0
          val n = math.min(qa.length, cv.length)
          while (j < n) { dot += qa(j) * cv(j); cn += cv(j) * cv(j); j += 1 }
          val cos = if (qn == 0 || cn == 0) 0.0 else dot / math.sqrt(qn * cn)
          if (heap.size < k) heap.enqueue((cid, cos))
          else if (ord.gt((cid, cos), heap.head)) { heap.dequeue(); heap.enqueue((cid, cos)) }
        }
        heap.toSeq.sorted(ord.reverse).zipWithIndex.map { case ((cid, cos), rk) =>
          (qid, cid, cos, rk + 1)
        }
      }
    }.toDF("q_id", "c_id", "cosine", "rank")
  }

  /** Scale-safe kNN join: IVF-partition the corpus (k-means lists), route
    * every query row to its `nProbe` nearest centroids, equi-join queries
    * to corpus lists on the cluster id, and rank candidates per query.
    * Nothing is collected to the driver and no n×m pair set forms: the
    * join fans each query out to the probed lists only (candidate count ≈
    * nProbe/nLists of the corpus), and the per-query top-k is a window
    * over that bounded candidate set.
    *
    * Routing is ONE codegen'd scalar expression per query row
    * ([[graft.functions.TopClusters]]) + explode — fan-out nProbe, not
    * nLists, and ZERO routing shuffles. The rejected formulation
    * (crossJoin with the broadcast nLists-row centroid table + a
    * row_number window) inflated |q|×nLists rows each carrying the full
    * query embedding — ~25 MB through the window exchange PER QUERY ROW
    * at max auto knobs (nLists ≤ 4096, 768-dim) before any candidate was
    * scored; the centroid matrix now rides the plan as one literal (the
    * same bytes the broadcast table shipped, once per executor).
    * Shuffles: one on `cluster` for the candidate equi-join, one for the
    * per-query rank window — and nothing else. Approximate: a true
    * neighbor in an unprobed list is missed — raise nProbe for recall
    * (nProbe = nLists ⇒ exact). The broadcast path
    * ([[knnJoinBroadcast]]) stays the small-corpus fast path. Ties break
    * by corpus id, matching knnJoinBroadcast.
    *
    * Knobs default to None → [[autoIvfParams]] from the corpus count
    * (nLists ≈ √n, 12.5% probe fraction — bounded candidate volume at any
    * corpus size). Fixed ints pin the index shape explicitly; a fixed
    * probe FRACTION does not scale (nLists=16/nProbe=4 probes 25% of the
    * corpus at any size ⇒ candidate pairs grow as n²/4 — measured 49.7 s
    * fixed vs 1.4 s auto at sf1), so explicit knobs are for experiments
    * and contrast gates, not the default path. */
  def knnJoinIvf(queries: DataFrame, corpus: DataFrame,
      qId: Column, qVec: Column, cId: Column, cVec: Column, k: Int,
      nListsOpt: Option[Int] = None, nProbeOpt: Option[Int] = None,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (autoLists, autoProbe) =
      if (nListsOpt.isEmpty || nProbeOpt.isEmpty) autoIvfParams(corpus.count())
      else (0, 0)
    val nLists = nListsOpt.getOrElse(autoLists)
    val nProbe = nProbeOpt.getOrElse(autoProbe)
    val ivf = buildIvf(corpus, cId, cVec, nLists, seed)
    val q = queries.select(qId.cast("long").as("q_id"), qVec.cast("array<double>").as("qv"))
    // route: per query, the nProbe nearest centroids — one codegen'd
    // expression + explode, no join and no window (see Scaladoc)
    val routed = q.select(col("q_id"), col("qv"),
      explode(VectorFunctions.topClusters(col("qv"),
        ivf.centroids.map(_.toSeq).toSeq, nProbe)).as("cluster"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    routed.join(ivf.assigned, "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        VectorFunctions.cosine(col("qv"), col("v")).as("cosine"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  /** Scale-aware IVF knobs: nLists ≈ √n bounds per-query candidate volume
    * at nProbe·n/nLists ≈ nProbe·√n — fixed knobs don't scale (nLists=16,
    * nProbe=8 probes HALF the corpus at any size, so the kNN join's
    * candidate set grows as n²/2; measured 56 s at sf1 vs sub-second
    * engine joins). nProbe = nLists/8 keeps a 12.5% probe fraction, which
    * on clustered (real-corpus-shaped) embeddings holds recall ≥ 0.9
    * because neighbors share lists (gated by s06–s08). */
  def autoIvfParams(n: Long): (Int, Int) = {
    val nLists = math.max(16, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))
    val nProbe = math.max(4, nLists / 8)
    (nLists, nProbe)
  }

  /** [[knnJoinIvf]] with [[autoIvfParams]] derived from the corpus count
    * (one cheap count job — at 100 TB the count is metadata-cheap
    * relative to the join it sizes). Since the knobs now DEFAULT to auto,
    * this is the same as calling [[knnJoinIvf]] with no knobs; kept as the
    * explicit spelling. */
  def knnJoinIvfAuto(queries: DataFrame, corpus: DataFrame,
      qId: Column, qVec: Column, cId: Column, cVec: Column, k: Int,
      seed: Long = 42L): DataFrame =
    knnJoinIvf(queries, corpus, qId, qVec, cId, cVec, k, None, None, seed)

  /** Product-quantization index (Jégou et al., TPAMI 2011) — the
    * memory-bounded ANN path when even one full-precision pass per query
    * is too expensive. The corpus is L2-normalized and split into `m`
    * subspaces; each subspace gets a seeded k-means codebook and every
    * vector is stored as `m` small code ints (`codes` frame — at 768-dim
    * float32 that is a 30–100× byte reduction, so the per-query ADC scan
    * reads ~1–3% of the corpus bytes). Full-precision vectors live in a
    * SEPARATE frame touched only to re-rank the top ADC candidates (in
    * production: a compact codes table scanned per query + a key-value /
    * bucketed-join fetch of `rerank` rows — never a second full scan of
    * the wide table, since the candidate set is broadcast).
    *
    * Query path: one driver-side m×k lookup table (dot products of the
    * normalized query's subvectors against the codebooks), then per
    * corpus row `m` table lookups ([[graft.functions.PqAdc]], codegen'd,
    * no vector arithmetic), TakeOrderedAndProject for the `rerank`
    * candidates, broadcast-join back to the vectors for exact cosine,
    * exact top-k. Approximate: recall depends on (m, k, rerank);
    * spec-measured ≥0.9 recall@10 at (m=8, k=16, rerank=5·k) on the test
    * corpus, exact with rerank ≈ corpus/5 (the gate's configuration). */
  final case class PqIndex(codes: DataFrame, vectors: DataFrame,
      codebooks: Array[Array[Array[Double]]], dsub: Int, kCode: Int,
      retained: Seq[DataFrame] = Nil) {

    /** Release the build-time caches (`codes` plus whatever the builder
      * pinned — the normalized corpus). Repeated builds in a long-lived
      * session otherwise accrete cached DataFrames, the leak class the
      * codebase handles explicitly elsewhere (the iterative ops' [[Ckpt]],
      * annRecallGateOn's corpus.unpersist()). Loaded indexes
      * ([[loadPq]]) hold no caches; close() is then a no-op. */
    def close(): Unit = {
      codes.unpersist()
      retained.foreach(_.unpersist())
    }

    private def normalized(q: Seq[Double]): Array[Double] = {
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n == 0) q.toArray else q.map(_ / n).toArray
    }

    /** The query-specific ADC lookup table, flattened m×k. */
    def lut(query: Seq[Double]): Seq[Double] = {
      val qn = normalized(query)
      codebooks.zipWithIndex.flatMap { case (book, s) =>
        book.map { centroid =>
          var dot = 0.0; var i = 0
          while (i < dsub) { dot += qn(s * dsub + i) * centroid(i); i += 1 }
          dot
        }
      }.toSeq
    }

    /** Approximate top-k: ADC scan over the compact codes, exact cosine
      * re-rank of the top `rerank` candidates. */
    def topK(query: Seq[Double], k: Int, rerank: Int): DataFrame = {
      val cand = codes
        .select(col("vec_id"), VectorFunctions.pqAdc(col("codes"), lut(query), kCode).as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(rerank)
      vectors.join(broadcast(cand), "vec_id")
        .select(col("vec_id"), VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Build a PQ index: `m` subspaces × `kCode` centroids, each codebook a
    * seeded k-means fit over that subspace of the L2-normalized corpus.
    * At 100 TB fit the codebooks on a sample (`sampleFraction` < 1 — the
    * codebook quality saturates long before the full corpus) and encode
    * with one codegen'd pass ([[graft.functions.PqEncode]]). */
  def buildPq(df: DataFrame, id: Column, vec: Column, m: Int, kCode: Int,
      seed: Long = 42L, sampleFraction: Double = 1.0): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = df.select(id.cast("long").as("vec_id"), vec.cast("array<double>").as("v"))
    val nrm = sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
    val normed = base.withColumn("vn",
      when(nrm === 0.0, col("v")).otherwise(transform(col("v"), x => x / nrm)))
      .cache()
    val dim = normed.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val fitBase =
      if (sampleFraction < 1.0) normed.sample(withReplacement = false, sampleFraction, seed)
      else normed
    fitBase.count() // materialize the cache once, before the concurrent fits
    // the m subspace fits are independent Spark jobs over the same cached
    // input — run them concurrently (Spark schedules concurrent jobs from
    // separate threads fine); serial fits dominated the build wall-clock
    // (measured 13.8 s at sf0.1, almost all of it m sequential k-means)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebooks: Array[Array[Array[Double]]] =
      Await.result(Future.sequence((0 until m).map { s => Future {
        val sub = fitBase.select(array_to_vector(
          slice(col("vn"), s * dsub + 1, dsub)).as("features"))
        new KMeans().setK(kCode).setSeed(seed + s).setFeaturesCol("features")
          .fit(sub).clusterCenters.map(_.toArray)
      }}), Duration.Inf).toArray
    val cbFlat = codebooks.flatMap(_.flatten).toSeq
    val codesDf = normed
      .select(col("vec_id"), VectorFunctions.pqEncode(col("vn"), cbFlat, dsub, kCode).as("codes"))
      .cache()
    PqIndex(codesDf, normed.select(col("vec_id"), col("v")), codebooks, dsub, kCode,
      retained = Seq(normed))
  }

  /** IVF + PQ composite index — the FAISS-IVFADC shape production ANN
    * actually deploys: coarse k-means lists bound WHICH codes are
    * scanned (the IVF story), PQ codes bound what each scanned row
    * COSTS (the compression story). A query probes `nProbe` lists, ADC-
    * scans only their codes (codegen'd [[graft.functions.PqAdc]] over
    * ~nProbe/nLists of the corpus), and exactly re-ranks the top
    * `rerank` candidates — at 100 TB that is a pruned scan-stage pass
    * over 1–3% of the corpus bytes with a TakeOrdered head, no shuffle.
    * Both sub-indexes are the proven components (s03's IVF, s09's PQ);
    * the cluster column is joined onto the codes ONCE at build. */
  final case class IvfPqIndex(centroids: Array[Array[Double]], pq: PqIndex,
      codesWithCluster: org.apache.spark.sql.DataFrame,
      retained: Seq[DataFrame] = Nil) {

    /** Release every cache the composite build pinned: the clustered
      * codes, the IVF assignment (retained), and the PQ sub-index's
      * caches — mirror of [[PqIndex.close]] for build-many sessions. */
    def close(): Unit = {
      codesWithCluster.unpersist()
      retained.foreach(_.unpersist())
      pq.close()
    }
    def topK(query: Seq[Double], k: Int, nProbe: Int, rerank: Int): DataFrame = {
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      val probe = centroids.zipWithIndex
        .sortBy { case (c, _) => -cos(query, c.toSeq) }
        .take(nProbe).map(_._2).toSeq
      val cand = codesWithCluster
        .filter(col("cluster").isin(probe: _*))
        .select(col("vec_id"),
          VectorFunctions.pqAdc(col("codes"), pq.lut(query), pq.kCode).as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(rerank)
      pq.vectors.join(broadcast(cand), "vec_id")
        .select(col("vec_id"),
          VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Build the composite: one coarse IVF fit + one PQ fit, cluster ids
    * joined onto the codes table once (build-time shuffle, query-time
    * scan filter). */
  def buildIvfPq(df: DataFrame, id: Column, vec: Column, nLists: Int,
      m: Int, kCode: Int, seed: Long = 42L): IvfPqIndex = {
    val ivf = buildIvf(df, id, vec, nLists, seed)
    val pq = buildPq(df, id, vec, m, kCode, seed)
    val cwc = pq.codes
      .join(ivf.assigned.select(col("vec_id"), col("cluster")), "vec_id")
      .cache()
    IvfPqIndex(ivf.centroids, pq, cwc, retained = Seq(ivf.assigned))
  }

  /** Persist a PQ index: the compact codes and the full-precision
    * vectors as parquet tables, the codebooks (tiny — m·k·dsub doubles)
    * as one parquet table of (subspace, centroid, values). Build-once /
    * query-many is the whole point of an ANN index at 100 TB: the build
    * pays m k-means fits and one encode pass; every later job loads the
    * codes table (1–3% of the corpus bytes) and queries immediately. */
  def savePq(idx: PqIndex, dir: String): Unit = {
    val spark = idx.codes.sparkSession
    import spark.implicits._
    idx.codes.write.mode("overwrite").parquet(s"$dir/codes")
    idx.vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    idx.codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("subspace", "centroid", "values")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Load a PQ index written by [[savePq]]. */
  def loadPq(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex = {
    import spark.implicits._
    val books = SourceRegistry.parquet(spark, s"$dir/codebooks")
      .select(col("subspace"), col("centroid"), col("values"))
      .as[(Int, Int, Seq[Double])].collect()
    val codebooks = books.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
      rows.sortBy(_._2).map(_._3.toArray).toArray
    }.toArray
    PqIndex(SourceRegistry.parquet(spark, s"$dir/codes"),
      SourceRegistry.parquet(spark, s"$dir/vectors"),
      codebooks, codebooks.head.head.length, codebooks.head.length)
  }

  /** Int8 scalar-quantized top-k: one [[graft.functions.Sq8Encode]] pass
    * turns the corpus into byte codes (8× smaller than array<double> —
    * at 100 TB the brute scan is bandwidth-bound, so the codes scan is
    * ~8× faster with no index build at all), then an asymmetric
    * full-precision-query × int8-corpus dot ranks candidates and the top
    * `rerank` get an exact cosine re-rank. Index-free counterpart of the
    * PQ path: encode inline (or persist the codes table once and scan it
    * forever — it IS a plain parquet column). Plan: codes-only
    * TakeOrdered scan + broadcast re-rank join, zero shuffles. */
  def sq8TopK(df: DataFrame, id: Column, vec: Column, query: Seq[Double],
      k: Int, rerank: Int): DataFrame = {
    val qn = normalizeQuery(query)
    val base = df.select(id.cast("long").as("vec_id"), vec.cast("array<double>").as("v"))
    val cand = base
      .select(col("vec_id"), VectorFunctions.sq8Dot(
        VectorFunctions.sq8Encode(col("v")), qn).as("sq8"))
      .orderBy(col("sq8").desc, col("vec_id"))
      .limit(rerank)
    base.join(broadcast(cand), "vec_id")
      .select(col("vec_id"), VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  private def normalizeQuery(query: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(query.map(x => x * x).sum)
    if (n == 0) query else query.map(_ / n)
  }

  /** Pre-encoded SQ8 index: the byte-codes table plus the full-precision
    * vectors for re-rank. [[sq8TopK]] pays the encode inline (fine for a
    * one-shot query; measured ~1.6× the brute scan at sf1 because the
    * normalize-and-quantize pass costs more than one cosine) — the
    * ENCODE-ONCE-QUERY-MANY regime is the point: the codes are a plain
    * parquet column ~4–8× smaller than the vector column, so every
    * subsequent query's candidate scan reads a fraction of the bytes. */
  final case class Sq8Index(codes: DataFrame, vectors: DataFrame) {
    def topK(query: Seq[Double], k: Int, rerank: Int): DataFrame = {
      val cand = codes
        .select(col("vec_id"), VectorFunctions.sq8Dot(col("codes"),
          normalizeQuery(query)).as("sq8"))
        .orderBy(col("sq8").desc, col("vec_id"))
        .limit(rerank)
      vectors.join(broadcast(cand), "vec_id")
        .select(col("vec_id"), VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    }

    /** PROVABLY exact top-k with a self-sizing re-rank set — no rerank
      * knob to calibrate. The int8 score error is bounded:
      * |approx − cos| ≤ ‖q̂‖₁/254 =: ε (each component is off by at most
      * half an int8 step). With t = the k-th best approx score, every
      * true top-k vector v satisfies approx(v) ≥ cos(v) − ε ≥ (t − ε) − ε,
      * so the candidate set {approx ≥ t − 2ε} contains the true top-k by
      * construction; the exact re-rank then returns it. Cost: two passes
      * over the compact codes (a k-row TakeOrdered for t, then the band
      * filter) + exact cosines for the candidates — typically tens of
      * rows at ε ≈ 0.02, vs the calibrated-rerank variant's thousands.
      * This is what makes SQ8 strictly better than the raw brute scan in
      * the encode-once regime: exact answers, 4–8× fewer scan bytes, and
      * the expensive full-precision pass confined to an ε-band. */
    def topKExact(query: Seq[Double], k: Int): DataFrame = {
      val qn = normalizeQuery(query)
      val eps = qn.map(math.abs).sum / 254.0
      val scored = codes.select(col("vec_id"),
        VectorFunctions.sq8Dot(col("codes"), qn).as("sq8"))
      val kthRow = scored.orderBy(col("sq8").desc).limit(k)
        .agg(min(col("sq8"))).head()
      // empty corpus → no threshold → every (zero) row passes the band
      val kth = if (kthRow.isNullAt(0)) Double.NegativeInfinity
        else kthRow.getDouble(0)
      val cand = scored.filter(col("sq8") >= kth - 2 * eps)
      vectors.join(broadcast(cand), "vec_id")
        .select(col("vec_id"), VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Encode the corpus once into an in-memory-cached [[Sq8Index]]. */
  def buildSq8(df: DataFrame, id: Column, vec: Column): Sq8Index = {
    val base = df.select(id.cast("long").as("vec_id"), vec.cast("array<double>").as("v"))
    Sq8Index(
      base.select(col("vec_id"), VectorFunctions.sq8Encode(col("v")).as("codes")).cache(),
      base)
  }

  /** Persist / load the codes table (the vectors stay wherever the
    * corpus lives — pass the original table back at load). At 100 TB
    * the build is one scan-and-write; every later job reads only the
    * compact codes parquet for candidate generation. */
  def saveSq8(idx: Sq8Index, dir: String): Unit =
    idx.codes.write.mode("overwrite").parquet(s"$dir/codes")

  def loadSq8(spark: org.apache.spark.sql.SparkSession, dir: String,
      vectors: DataFrame, id: Column, vec: Column): Sq8Index =
    Sq8Index(SourceRegistry.parquet(spark, s"$dir/codes"),
      vectors.select(id.cast("long").as("vec_id"), vec.cast("array<double>").as("v")))

  /** LSH-bucketed ANN: restrict the scan to buckets within `probeHamming`
    * of the query's bucket (multi-probe), then exact cosine top-k inside.
    * Recall < 1 by construction; raise numPlanes/probeHamming to trade
    * cost for recall. */
  def annTopK(df: DataFrame, id: Column, vec: Column, query: Seq[Double],
      k: Int, numPlanes: Int = 12, probeHamming: Int = 2, seed: Long = 42L): DataFrame = {
    val planes = randomPlanes(numPlanes, query.size, seed)
    val qSig = planes.zipWithIndex.map { case (plane, p) =>
      val dot = plane.zip(query).map { case (w, x) => w * x }.sum
      if (dot >= 0) 1L << p else 0L
    }.reduce(_ | _)
    df.select(id.as("vec_id"), vec.as("v"),
        hyperplaneSignature(vec, planes).as("bucket"))
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qSig))) <= probeHamming)
      .select(col("vec_id"), VectorFunctions.cosine(col("v"), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Metadata-FILTERED exact vector search: cosine top-k restricted to
    * rows matching `pred` — the "hybrid filter" every vector store
    * grows (lang = 'en', source = X, date range…). PRE-filter
    * semantics deliberately: the predicate cuts the corpus BEFORE
    * scoring, so the result always has k rows when k matches exist;
    * post-filtering an ANN result under-fills whenever the filter is
    * selective (the classic filtered-ANN bug). The filter is a plain
    * scan predicate — Catalyst pushes it to the parquet reader
    * (plan-guarded), so cost is ∝ the filtered subset, and for an
    * indexed corpus the same predicate composes with [[IvfIndex]] by
    * filtering `assigned` before [[IvfIndex.topK]]'s probe. */
  def filteredTopK(df: DataFrame, id: Column, vec: Column, pred: Column,
      query: Seq[Double], k: Int): DataFrame =
    bruteForceTopK(df.filter(pred), id, vec, query, k)

  /** Embedding-space outlier report: the `k` vectors least aligned with
    * the corpus centroid — the corpus-cleaning pass that surfaces
    * corrupted encodes, wrong-modality rows, and off-manifold garbage
    * before they poison ANN indexes or contrastive training batches.
    *
    * Plan: the centroid is ONE map-side-combined per-position mean
    * (posexplode → groupBy(position) — dim·numPartitions combiner rows
    * cross the wire, never n·dim), collected as `dim` doubles (bounded
    * metadata) and re-entered as a plan literal; the scoring pass is a
    * codegen'd cosine in the scan stage feeding TakeOrderedAndProject.
    * Two scans, zero wide shuffles, k rows to the driver.
    *
    * Ranking uses the 4-dp-rounded cosine with the id as tiebreak so the
    * order is reproducible cross-engine (float-sum last-bit noise cannot
    * reorder equal-rounded rows). The centroid is built from (and scores
    * apply to) the corpus's MAJORITY vector length; rows of any other
    * length score NULL and sort first — a wrong-length embedding IS the
    * most extreme outlier, not a prefix-cosine accident. */
  /** Per-dimension embedding health stats — the drift/collapse check an
    * embedding pipeline runs before trusting a new encoder snapshot: a
    * dimension whose variance collapses to ~0 is dead, a mean drifting
    * from 0 breaks downstream cosine assumptions, min/max catch
    * saturation. One posexplode (scan-stage, no shuffle) + one
    * dimension-keyed aggregate (map-side combined; cardinality = vector
    * width). Values are 6-dp floored + DECIMAL-summed (and squares at
    * 10 dp) so mean/variance are addition-order-free — the documented
    * contract is "stats of the 6-dp-quantized values", which is what a
    * drift check wants (and the only thing any engine can reproduce
    * bit-for-bit); min/max are raw. float32 inputs are exact in double,
    * so both engines quantize identical values.
    * Output: (dim 0-based, n, mean6, var6, vmin, vmax). */
  def embeddingDimStats(df: DataFrame, vec: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = df.select(posexplode(vec.cast("array<double>")).as(Seq("dim", "v")))
    val v6 = (floor(col("v") * 1000000 + 0.5) / 1000000).cast(DecimalType(38, 6))
    val sq10 = (floor(col("v") * col("v") * 1e10 + 0.5) / 1e10)
      .cast(DecimalType(38, 10))
    x.select(col("dim"), col("v"), v6.as("__v6"), sq10.as("__sq10"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__v6")).as("__s"),
        sum(col("__sq10")).as("__ssq"), min(col("v")).as("vmin"),
        max(col("v")).as("vmax"))
      .select(col("dim"), col("n"),
        (floor(col("__s").cast("double") / col("n") * 1000000 + 0.5) / 1000000)
          .as("mean6"),
        (floor((col("__ssq").cast("double")
          - col("__s").cast("double") * col("__s").cast("double") / col("n"))
          / col("n") * 1000000 + 0.5) / 1000000).as("var6"),
        col("vmin"), col("vmax"))
  }

  def embeddingOutliers(df: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    val base = df.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
    val lenCounts = base.groupBy(size(col("v")).as("d")).count().collect()
    val dim = lenCounts.maxBy(r => (r.getLong(1), -r.getInt(0))).getInt(0)
    val centroid = base.filter(size(col("v")) === dim)
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x")).as("m"))
      .orderBy(col("i")).collect().map(_.getDouble(1)).toSeq
    base.select(col("vec_id"),
        when(size(col("v")) === dim,
          floor(VectorFunctions.cosine(col("v"), typedLit(centroid)) * 10000 + 0.5) / 10000)
          .as("cos4"))
      .orderBy(col("cos4").asc_nulls_first, col("vec_id"))
      .limit(k)
  }

  /** Per-label centroid components: the class prototype a nearest-
    * centroid classifier / semdedup cluster summary / drift monitor
    * starts from. Long form (label, pos, mean_v, n) — the assembled
    * array is one `collect_list` away, but the long form is what every
    * downstream per-dimension comparison consumes.
    *
    * Determinism: components are 4-dp floor-rounded BEFORE a
    * DECIMAL(28,4) sum (the t18/b01 recipe), so the mean is
    * addition-order-independent — a float centroid averaged in shuffle
    * order is NOT reproducible across engines or even across runs.
    * Scale shape: one posexplode (rows × dim, the unavoidable fan-out)
    * into a map-side-combined (label, pos) aggregate; output is
    * labels × dim. */
  def labelCentroids(df: DataFrame, label: Column, vec: Column): DataFrame =
    df.select(label.as("label"), posexplode(vec.cast("array<double>"))
        .as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum((floor(col("v") * 10000 + 0.5) / 10000).cast("decimal(28,4)"))
          .as("__s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (floor(col("__s").cast("double") / col("n") * 10000 + 0.5) / 10000)
          .as("mean_v"),
        col("n"))

  /** Nearest-centroid classification quality: assign every vector to
    * its closest [[labelCentroids]] prototype (squared-Euclidean, 4-dp
    * floor-rounded, ties to the lowest label) and emit the confusion
    * matrix (label_true, label_pred, n) — the label-noise / cluster-
    * purity diagnostic a semdedup or relabeling pass starts from.
    *
    * Scale shape: centroids are labels×dim (result-sized by
    * definition), so they ride the plan as a LITERAL — the corpus pass
    * is ONE codegen'd scan computing a per-label fold (`zip_with` +
    * sequential `aggregate`, bit-identical to any engine's left fold),
    * no join, and the only shuffle is the labels²-bounded confusion
    * aggregate. The d19 semanticDecontam discipline. */
  def nearestCentroidConfusion(df: DataFrame, label: Column, vec: Column): DataFrame = {
    val cents: Seq[(Int, Seq[Double])] =
      labelCentroids(df, label, vec)
        .select(col("label").cast("int"), col("pos"), col("mean_v"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }.toSeq.sortBy(_._1)
    require(cents.nonEmpty, "no labels")
    val v = vec.cast("array<double>")
    val candidates = cents.map { case (l, c) =>
      val d2 = aggregate(
        zip_with(v, typedLit(c), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      struct((floor(d2 * 10000 + 0.5) / 10000).as("d2"), lit(l).as("l"))
    }
    df.select(label.as("label_true"),
        array_min(array(candidates: _*)).getField("l").as("label_pred"))
      .groupBy(col("label_true"), col("label_pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Top principal component of an embedding corpus by a FIXED-iteration
    * power method — the embedding-diagnostics primitive (a dominant PC
    * with outsized eigenvalue = anisotropy/"rogue dimension"; the PC is
    * also the first whitening direction). Deliberately not a full SVD:
    * one eigenpair answers the health question, and fixed iterations +
    * quantized arithmetic make the result a portable CONTRACT, not a
    * libm accident.
    *
    * Distributed part: per-dim 6-dp means (the [[embeddingDimStats]]
    * recipe), then the centered Gram/covariance via a per-row dim×dim
    * product fan-out aggregated map-side to d² cells — products 10-dp
    * floored + DECIMAL-summed, so C is bit-identical on any engine and
    * any partitioning. The d² driver collect is metadata (64 dims →
    * 4 KB; 4096 dims → 128 MB would instead want the mapPartitions/BLAS
    * Gram path — documented cutoff, d ≤ 1024 enforced). Per-row cost is
    * O(d²) — inherent to Gram computation (MLlib's RowMatrix pays the
    * same); sample rows first if the corpus is the bottleneck.
    *
    * Driver part: v₀ = 8-dp-floored 1/√d on every coordinate; each of
    * `iterations` steps computes w = C·v with every product 8-dp floored
    * and summed EXACTLY (BigDecimal — no order dependence), the norm
    * from 10-dp-floored squares, then v = 8-dp-floored w/‖w‖. Every
    * intermediate is reproducible decimal arithmetic, so an independent
    * engine unrolling the same steps lands on the identical vector —
    * sign included (fixed by v₀).
    *
    * Output: (dim, loading8, eigval8) — eigval8 = ‖w‖ of the last step
    * (the Rayleigh estimate under a normalized v). */
  def principalComponent(df: DataFrame, id: Column, vec: Column,
      iterations: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val spark = df.sparkSession
    import spark.implicits._
    val x = df.select(posexplode(vec.cast("array<double>")).as(Seq("i", "v")))
    val means = x.groupBy(col("i"))
      .agg((floor(sum((floor(col("v") * 1000000 + 0.5) / 1000000)
          .cast(DecimalType(38, 6))).cast("double")
        / count(lit(1)) * 1000000 + 0.5) / 1000000).as("mean6"))
    val d = means.count().toInt
    require(d >= 1 && d <= 1024,
      s"principalComponent supports 1..1024 dims (got $d) — use a " +
        "mapPartitions/BLAS Gram path beyond that")
    val n = df.count()
    val centered = df.select(id.as("__r"),
        posexplode(vec.cast("array<double>")).as(Seq("i", "v")))
      .join(broadcast(means), "i")
      .select(col("__r"), col("i"), (col("v") - col("mean6")).as("vc"))
    // C is symmetric — aggregate the upper triangle only (halves the
    // per-row pair fan-out, the dominant cost) and mirror on the driver;
    // the (i,j) and (j,i) decimal sums are the identical products, so
    // the mirror is exact, not approximate
    val cov = centered.as("a")
      .join(centered.as("b"),
        col("a.__r") === col("b.__r") && col("a.i") <= col("b.i"))
      .select(col("a.i").as("i"), col("b.i").as("j"),
        (floor(col("a.vc") * col("b.vc") * 1e10 + 0.5) / 1e10)
          .cast(DecimalType(38, 10)).as("p10"))
      .groupBy(col("i"), col("j")).agg(sum(col("p10")).as("s"))
      .select(col("i"), col("j"), (col("s").cast("double") / n).as("c"))
      .collect()
    val C = Array.ofDim[Double](d, d)
    cov.foreach { r =>
      C(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      C(r.getInt(1))(r.getInt(0)) = r.getDouble(2)
    }
    def f8(x: Double) = math.floor(x * 1e8 + 0.5) / 1e8
    var v = Array.fill(d)(f8(1.0 / math.sqrt(d.toDouble)))
    var lastNorm = 0.0
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(d) { i =>
        var acc = BigDecimal(0)
        var j = 0
        while (j < d) {
          acc += BigDecimal(math.floor(C(i)(j) * v(j) * 1e8 + 0.5)) / BigDecimal(1e8)
          j += 1
        }
        acc.toDouble
      }
      val nrm = math.sqrt(
        w.map(wi => BigDecimal(math.floor(wi * wi * 1e10 + 0.5)) / BigDecimal(1e10))
          .sum.toDouble)
      lastNorm = nrm
      v = w.map(wi => f8(wi / nrm))
    }
    val eig = f8(lastNorm)
    v.zipWithIndex.map { case (l, i) => (i, l, eig) }.toSeq
      .toDF("dim", "loading8", "eigval8")
  }
}
