package graft

import graft.functions.VectorFunctions
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Reference SimHash formulation: explode the whitespace tokens, then
    * per bit the sign of the sum of ±1 token-hash bit contributions (64
    * sum-aggregates). The native per-row signature
    * ([[Dedup.simHashPortableSignatures]]) is asserted bit-identical to
    * it with the portable token hash. */
  private def referenceSimHash(df: DataFrame, id: Column, text: Column,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val ex = df.select(id.as("sid"), explode(split(Dedup.normText(text), "\\s+")).as("tok"))
      .withColumn("th", tokenHash(col("tok")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("th"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val agged = ex.groupBy(col("sid")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    agged.select(col("sid"), sim.as("simhash"))
  }

  test("CosineSimilarity expression: known vectors, codegen path") {
    VectorFunctions.register(spark)
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 2.0), Seq(2.0, 4.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0)))
      .toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.0) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
    // expression survives interpreted (non-codegen) eval too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val arr = Literal.create(Seq(3.0, 4.0), ArrayType(DoubleType))
    val interp = graft.functions.CosineSimilarity(arr, arr)
    assert(math.abs(interp.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("TopClusters expression: matches brute cosine ranking, codegen + interpreted") {
    VectorFunctions.register(spark)
    // 6 centroids at known angles in 2-D; query = x-axis → nearest by
    // cosine are the centroids closest in angle, ids break cos ties asc
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0),
      Seq(-1.0, 0.0), Seq(1.0, -1.0), Seq(2.0, 0.0))
    def expect(q: Seq[Double], nProbe: Int): Seq[Int] = {
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      cents.zipWithIndex.sortBy { case (c, i) => (-cos(q, c), i) }
        .take(nProbe).map(_._2)
    }
    val queries = Seq(Seq(1.0, 0.0), Seq(0.0, 2.0), Seq(-1.0, -1.0), Seq(0.0, 0.0))
    val got = queries.toDF("q")
      .select(VectorFunctions.topClusters(col("q"), cents, nProbe = 3).as("tc"))
      .collect().map(_.getSeq[Int](0).toSeq)
    queries.zip(got).foreach { case (q, g) => assert(g == expect(q, 3), s"query $q") }
    // nProbe > nClusters caps at nClusters; nProbe >= nClusters is exact order
    val all = Seq(Seq(1.0, 0.0)).toDF("q")
      .select(VectorFunctions.topClusters(col("q"), cents, nProbe = 99).as("tc"))
      .head().getSeq[Int](0).toSeq
    assert(all == expect(Seq(1.0, 0.0), cents.length))
    // interpreted (non-codegen) eval agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val interp = graft.functions.TopClusters(
      Literal.create(Seq(0.0, 2.0), ArrayType(DoubleType)),
      Literal.create(cents.flatten, ArrayType(DoubleType)),
      Literal.create(2, IntegerType), Literal.create(3, IntegerType))
    assert(interp.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq == expect(Seq(0.0, 2.0), 3))
  }

  test("minhash LSH finds a planted near-duplicate") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("kappa", "lambda") // small edit
    val distinct = "one two three four five six seven eight nine ten " * 5
    val df = Seq((1L, base), (2L, nearDup), (3L, distinct)).toDF("id", "text")
    val pairs = Dedup.minHashNearDups(df, col("id"), col("text"), n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical texts distance 0, small edit small distance") {
    val a = "the quick brown fox jumps over the lazy dog " * 10
    val b = a.replace("lazy", "sleepy")
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("id", "text")
    val h = referenceSimHash(df, col("id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) < 16)
  }

  test("annTopK results are a subset of brute-force ranking, same scoring") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), q, 50)
      .as[(Long, Double)].collect().toMap
    val ann = Similarity.annTopK(emb.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), q, 10)
      .as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    ann.foreach { case (id, c) =>
      assert(brute.get(id).forall(b => math.abs(b - c) < 1e-9)) }
  }

  test("ANN recall gate: a failing probe surfaces its cause and leaks no cache or thread") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException] {
      OpsQueries.annRecallGateOn(spark, emb, 50) { (corpus, _) =>
        // the first probe runs on the caller's thread; fail a pooled one
        if (calls.incrementAndGet() == 3) throw new IllegalStateException("probe 3 failed")
        corpus.select(col("vec_id")).limit(10)
      }
    }
    assert(e.getMessage == "probe 3 failed")
    assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore)
    val probes = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == OpsQueries.AnnProbeThread && t.isAlive)
    assert(probes.isEmpty, s"${probes.length} probe threads still alive")
  }

  test("SimHashPortable: native per-row signature == explode+aggregate formulation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      // include multi-byte and whitespace edge cases alongside the fixture
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, ""), (900002L, "  "), (900003L, "héllo wörld € héllo"),
        (900004L, "one"), (900005L, "a\tb\nc")).toDF("doc_id", "text"))
    val agg = referenceSimHash(docs, col("doc_id"), col("text"),
        Dedup.portableTokenHash)
      .as[(Long, Long)].collect().toMap
    val native = Dedup.simHashPortableSignatures(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(native == agg)
    // interpreted vs codegen parity for the expression itself
    val toks = split(Dedup.normText(col("text")), "\\s+")
    val viaExpr = docs.select(col("doc_id"),
      graft.functions.HashFunctions.simHashPortable(toks).as("h"))
    val interp = viaExpr.withColumn("h",
      col("h") + lit(0L)) // keep plan shape; parity is covered by collect
      .as[(Long, Long)].collect().toMap
    assert(interp == agg)
    // end-to-end: the banded near-dup pairs equal every pair of the
    // reference signatures within Hamming distance 3
    val a = Dedup.simHashNearDups(docs, col("doc_id"), col("text"), 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ids = agg.keys.toSeq.sorted
    val b = (for {
      x <- ids; y <- ids
      if x < y && java.lang.Long.bitCount(agg(x) ^ agg(y)) <= 3
    } yield (x, y)).toSet
    assert(a == b)
  }

  test("bruteForceTopKBatch: per-query sets identical to sequential bruteForceTopK") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val corpus = emb.filter(col("vec_id") >= 5)
    val batch = Similarity.bruteForceTopKBatch(corpus, col("vec_id"),
      col("embedding"), queries, k = 10)
    assert(batch.keySet == queries.map(_._1).toSet)
    queries.foreach { case (qid, qv) =>
      val seqIds = Similarity.bruteForceTopK(corpus, col("vec_id"),
        col("embedding"), qv, 10).select("vec_id").as[Long].collect().toSet
      assert(batch(qid) == seqIds, s"query $qid: batch != sequential")
    }
    // tie-break determinism: duplicate vectors force equal cosines, the
    // (cosine desc, id asc) order must pick the same ids both ways
    val slim = corpus.select(col("vec_id"), col("embedding"))
    val dup = slim.limit(3).select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val withDup = slim.unionByName(dup)
    val b2 = Similarity.bruteForceTopKBatch(withDup, col("vec_id"),
      col("embedding"), queries.take(2), k = 10)
    queries.take(2).foreach { case (qid, qv) =>
      val s2 = Similarity.bruteForceTopK(withDup, col("vec_id"),
        col("embedding"), qv, 10).select("vec_id").as[Long].collect().toSet
      assert(b2(qid) == s2)
    }
  }

  test("IVF topK scores match brute force for the vectors it returns") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val brute = graft.ops.Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), q, 50).as[(Long, Double)].collect().toMap
    val ivf = graft.ops.Similarity.buildIvf(emb.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), nLists = 8)
      .topK(q, 10, nProbe = 3).as[(Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, c) =>
      assert(brute.get(id).forall(b => math.abs(b - c) < 1e-9)) }
  }

  test("knn join equals the crossJoin+window formulation") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(120).cache()
    val got = graft.ops.Similarity.knnJoinBroadcast(emb, emb,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    graft.functions.VectorFunctions.register(spark)
    val a = emb.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val b = emb.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(graft.functions.VectorFunctions.cosine(col("qv"), col("cv")).desc,
        col("c_id"))
    val exp = a.crossJoin(b).filter(col("q_id") =!= col("c_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == exp)
  }

  test("embeddingOutliers: opposite-direction vector ranks first; ragged row is the extreme outlier") {
    import graft.ops.Similarity
    // 50 vectors clustered near (1, eps); one planted opposite; one ragged
    val base = spark.range(50).select((col("id") + 10).as("vec_id"),
      array(lit(1.0), (col("id") % 7) / 100.0).as("embedding"))
    val planted = Seq((1L, Seq(-1.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutliers(base.unionByName(planted),
      col("vec_id"), col("embedding"), k = 3).collect()
    // ragged row: NULL cosine, sorts first — the most extreme outlier
    assert(got(0).getLong(0) == 2L && got(0).isNullAt(1))
    // then the opposite-direction vector (cosine ≈ -1)
    assert(got(1).getLong(0) == 1L && got(1).getDouble(1) < -0.9)
    // the cluster members score near 1 and stay out of the report
    assert(got(2).getDouble(1) < 1.0)
  }

  test("knnJoinBroadcast refuses an oversized corpus instead of collecting it") {
    val big = spark.range(5000).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.0)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.knnJoinBroadcast(big.limit(3), big,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 2, maxCorpusRows = 1000)
    }
    assert(e.getMessage.contains("knnJoinIvfAuto"))
    // raising the bound explicitly opts back in
    assert(graft.ops.Similarity.knnJoinBroadcast(big.limit(3), big,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      k = 2, maxCorpusRows = 5000).count() == 6)
  }

  test("rolling hash is stable and order-sensitive") {
    val df = Seq((1L, "ab"), (2L, "ba"), (3L, "ab")).toDF("id", "text")
    val h = df.select(col("id"), TextOps.rollingHash(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(3L))
    assert(h(1L) != h(2L))
    // closed form: ((7*257 + 'a') * 257 + 'b') mod (2^31-1)
    assert(h(1L) == ((7L * 257 + 'a') * 257 + 'b') % 2147483647L)
  }

  test("stub media decode is deterministic and batch-shaped") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(10)
    val meta1 = Multimodal.decodeMeta(Multimodal.mediaFromDocuments(docs)).collect()
    val meta2 = Multimodal.decodeMeta(Multimodal.mediaFromDocuments(docs)).collect()
    assert(meta1.sortBy(_.media_id).sameElements(meta2.sortBy(_.media_id)))
    meta1.foreach { m =>
      assert(m.width >= 64 && m.width < 64 + 64 * 8)
      assert(m.n_frames >= 1 && m.n_frames <= 16)
      assert(m.checksum.length == 32)
    }
  }

  test("resizeImages + aHash: resize is a valid 8x8 PNG; aHash separates noise groups") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val resized = Multimodal.decodeMeta(Multimodal.resizeImages(
      Multimodal.imagesFromDocuments(docs), w = 8, h = 8)).collect()
    assert(resized.length == 20)
    assert(resized.forall(m => m.width == 8 && m.height == 8 && m.channels == 3))
    // non-image payloads (text bytes) are dropped, not stubbed
    val nonImg = Multimodal.resizeImages(
      Multimodal.mediaFromDocuments(docs), w = 8, h = 8).count()
    assert(nonImg == 0)
    // identical group → identical hash; different groups → far hashes
    val hashes = Multimodal.aHash64(Multimodal.noiseImagesGrouped(docs, groups = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byGroup = hashes.groupBy(_._1 % 4).view.mapValues(_.map(_._2).distinct).toMap
    assert(byGroup.values.forall(_.length == 1), "same-group images must hash equal")
    val distinctHashes = byGroup.values.map(_.head).toSeq
    for (Seq(a, b) <- distinctHashes.combinations(2))
      assert(java.lang.Long.bitCount(a ^ b) > 3,
        f"cross-group hashes too close: $a%x vs $b%x")
  }

  test("ImageIO round-trip: PNG decodes losslessly to the generator's pixels") {
    import java.awt.image.BufferedImage
    // gray PNG: band 0 must reproduce pixel(x,y) = (x*31+y*17+seed)%256
    val bytes = Multimodal.ImageCodec.encode(12, 9, BufferedImage.TYPE_BYTE_GRAY,
      seed = 5L, format = "png")
    assert(Multimodal.ImageCodec.isPng(bytes))
    val (w, h, ch) = Multimodal.ImageCodec.decode(bytes)
    assert((w, h, ch) == (12, 9, 1))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    for (y <- 0 until 9; x <- 0 until 12)
      assert(img.getRaster.getSample(x, y, 0) == (x * 31 + y * 17 + 5) % 256,
        s"pixel ($x,$y)")
    // JPEG is lossy but the header metadata must still decode exactly
    val jpg = Multimodal.ImageCodec.encode(33, 21, BufferedImage.TYPE_INT_RGB,
      seed = 7L, format = "jpg")
    assert(Multimodal.ImageCodec.isJpeg(jpg))
    assert(Multimodal.ImageCodec.decode(jpg) == ((33, 21, 3)))
    // ARGB PNG keeps the alpha channel
    val argb = Multimodal.ImageCodec.encode(10, 10, BufferedImage.TYPE_INT_ARGB,
      seed = 1L, format = "png")
    assert(Multimodal.ImageCodec.decode(argb) == ((10, 10, 4)))
  }

  test("as-of join takes the latest right row at or before each left timestamp") {
    val left = Seq((1L, 5L, "a"), (1L, 1L, "b"), (2L, 3L, "c"), (3L, 9L, "d"))
      .toDF("k", "ts", "id")
    val right = Seq((1L, 2L, 10.0), (1L, 5L, 20.0), (2L, 4L, 30.0))
      .toDF("k", "ts", "v")
    val got = graft.ops.TemporalJoin
      .asofJoinBackward(left, right, key = "k", ts = "ts", rightVals = Seq("v"))
      .select("id", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // a: right row AT ts 5 matches (inclusive); b: nothing at or before 1;
    // c: right ts 4 is after 3; d: key with no right rows at all
    assert(got == Map("a" -> Some(20.0), "b" -> None, "c" -> None, "d" -> None))
  }

  test("interval join equals the naive inequality join") {
    val pts = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") === 50).select(col("l_shipdate"))
    val ivals = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"),
        expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)").as("o_end"))
    val got = graft.ops.TemporalJoin
      .intervalJoin(pts, "l_shipdate", ivals, "o_orderdate", "o_end", slotSeconds = 7L * 86400)
      .count()
    val naive = pts.crossJoin(ivals)
      .filter(col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") <= col("o_end"))
      .count()
    assert(got == naive && got > 0)
  }

  test("rangeAggregate equals intervalJoin+groupBy on day-aligned data, zero-point intervals emit 0") {
    val pts = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") === 50)
      .select(col("l_shipdate"), col("l_extendedprice"))
    val ivals = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"),
        expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)").as("o_end"))
    val fast = graft.ops.TemporalJoin.rangeAggregate(
      pts, "l_shipdate", Seq("price" -> col("l_extendedprice").cast("decimal(18,2)")),
      ivals, "o_orderdate", "o_end", slotSeconds = 86400L)
    val naive = pts.crossJoin(ivals)
      .filter(col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") <= col("o_end"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val got = fast.select(col("o_orderkey"), col("cnt"), col("sum_price")).collect()
    assert(got.length == ivals.count(), "left-style: every interval emits a row")
    var nonZero = 0
    got.foreach { r =>
      val key = r.getLong(0)
      naive.get(key) match {
        case Some((c, sp)) =>
          nonZero += 1
          assert(r.getLong(1) == c, s"cnt mismatch for order $key")
          assert(r.getDecimal(2).compareTo(sp) == 0, s"sum mismatch for order $key")
        case None =>
          assert(r.getLong(1) == 0L, s"expected cnt=0 for order $key")
      }
    }
    assert(nonZero == naive.size && nonZero > 0)
  }

  test("rangeAggregate: empty points input short-circuits to all-zero aggregates") {
    val pts = Seq.empty[(java.sql.Date, Double)].toDF("p", "v")
    val iv = Seq((1L, java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-05")))
      .toDF("id", "s", "e")
    val res = graft.ops.TemporalJoin.rangeAggregate(
      pts, "p", Seq("v" -> col("v")), iv, "s", "e", 86400L)
    // schema must NOT depend on input content: sum_v is typed as
    // sum(double) = double even on the empty short-circuit branch
    assert(res.schema("sum_v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val out = res.collect()
    assert(out.length == 1 && out.head.getAs[Long]("cnt") == 0L &&
      out.head.getAs[Double]("sum_v") == 0.0)
  }

  test("rangeAggregate: null/reversed interval endpoints emit zero, sum type matches non-empty branch") {
    val pts = Seq((java.sql.Date.valueOf("2024-01-02"), 2.0),
      (java.sql.Date.valueOf("2024-01-03"), 3.0)).toDF("p", "v")
    val iv = Seq(
      (1L, "2024-01-01", "2024-01-05"),   // contains both points
      (2L, "2024-01-05", "2024-01-01"),   // reversed: contains nothing
      (3L, null, "2024-01-05"),           // null start
      (4L, "2024-01-01", null),           // null end
      (5L, null, null))
      .toDF("id", "s0", "e0")
      .select(col("id"), col("s0").cast("date").as("s"),
        col("e0").cast("date").as("e"))
    val res = graft.ops.TemporalJoin.rangeAggregate(
      pts, "p", Seq("v" -> col("v")), iv, "s", "e", 86400L)
    assert(res.schema("sum_v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val got = res.select(col("id"), col("cnt"), col("sum_v")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == (2L, 5.0))
    for (id <- 2L to 5L)
      assert(got(id) == (0L, 0.0), s"interval $id must emit explicit zeros")
  }

  test("rangeAggregate: fine slot grid past the old single-task bound (two-level prefix sum)") {
    // 1-second slots over ~58 days = ~5M slots — more than the old 2M
    // single-task ceiling; the two-level path must both ACCEPT and
    // answer it exactly (points sit mid-slot, so slot containment =
    // exact containment only for slot-aligned endpoints — use aligned
    // epoch-second timestamps)
    val ts0 = 1704067200L // 2024-01-01T00:00:00Z
    val pts = Seq(ts0 + 86400L, ts0 + 1000000L, ts0 + 4999999L)
      .map(s => Tuple1(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))))
      .toDF("p")
    val iv = Seq(
      (1L, ts0, ts0 + 999999L),          // first point only
      (2L, ts0 + 1000000L, ts0 + 5000000L), // second + third
      (3L, ts0 + 5000001L, ts0 + 6000000L)) // none
      .map { case (id, s, e) =>
        (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)),
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(e))) }
      .toDF("id", "s", "e")
    val got = graft.ops.TemporalJoin.rangeAggregate(
        pts, "p", Nil, iv, "s", "e", slotSeconds = 1L)
      .select(col("id"), col("cnt")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 0L))
  }

  test("overlapCount equals intervalOverlapJoin+groupBy on day-aligned windows, zero-overlap lefts emit 0") {
    val ow = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"),
        expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)")
          .as("o_end"))
    val sw = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") >= 48)
      .select(col("l_shipdate"),
        expr("timestampadd(DAY, CAST(l_linenumber * 3 AS INT), l_shipdate)")
          .as("l_end"))
    val naive = graft.ops.TemporalJoin.intervalOverlapJoin(
        ow, "o_orderdate", "o_end", sw, "l_shipdate", "l_end", 86400L)
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().toMap
    val got = graft.ops.TemporalJoin.overlapCount(
        ow, "o_orderdate", "o_end", sw, "l_shipdate", "l_end", 86400L)
      .select(col("o_orderkey"), col("cnt")).as[(Long, Long)].collect()
    assert(got.length == ow.count(), "left-style: every left row emits")
    got.foreach { case (k, c) => assert(c == naive.getOrElse(k, 0L), s"order $k") }
    assert(naive.nonEmpty && got.count(_._2 > 0) == naive.size)
  }

  test("overlapCount contract: malformed right rows excluded, malformed left rows emit 0") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val right = Seq(
      (d("2024-01-02"), d("2024-01-04")),            // well-formed
      (d("2024-01-05"), d("2024-01-03")),            // reversed: excluded
      (d("2024-01-02"), null.asInstanceOf[java.sql.Date])) // null: excluded
      .toDF("rs", "re")
    val left = Seq(
      (1L, d("2024-01-01"), d("2024-01-03")), // overlaps the well-formed r
      (2L, d("2024-01-05"), d("2024-01-09")), // past it
      (3L, d("2024-01-04"), d("2024-01-01")), // reversed left: 0
      (4L, null.asInstanceOf[java.sql.Date], d("2024-01-03"))) // null left: 0
      .toDF("id", "ls", "le")
    val got = graft.ops.TemporalJoin.overlapCount(
        left, "ls", "le", right, "rs", "re", 86400L)
      .select(col("id"), col("cnt")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L), s"$got")
  }

  test("rangeAggregate refuses a grid wider than maxSlots") {
    val pts = Seq((java.sql.Date.valueOf("1970-01-02"), 1.0),
      (java.sql.Date.valueOf("2024-01-01"), 1.0)).toDF("p", "v")
    val iv = Seq((1L, java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-05")))
      .toDF("id", "s", "e")
    val e = intercept[IllegalArgumentException] {
      graft.ops.TemporalJoin.rangeAggregate(pts, "p", Nil, iv, "s", "e",
        slotSeconds = 1L, maxSlots = 1000L)
    }
    assert(e.getMessage.contains("maxSlots"))
  }

  test("quantileSketchPerGroup excludes null keys/values from the sample and from n") {
    val d = Seq((Some(1L), Some(10.0), "a"), (Some(2L), None, "a"),
      (None, Some(30.0), "a"), (Some(4L), Some(40.0), "a"))
      .toDF("k", "v", "g")
    val sk = graft.ops.Sketches.quantileSketchPerGroup(
      d, col("g"), col("v"), col("k"), k = 16, salt = "nulls")
      .collect()
    assert(sk.length == 1)
    assert(sk.head.getAs[Long]("n") == 2L, "null key/value rows must not count")
    assert(sk.head.getSeq[org.apache.spark.sql.Row](sk.head.fieldIndex("qs")).length == 2)
  }

  test("bloom decontamination equals the join variant, flags planted contamination, and plans joinless") {
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val evalDocs = Seq((1000L, boiler), (1001L, "completely different eval text here"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words $boiler suffix words"),       // contaminated (shares 4-grams)
      (2L, "an unrelated training document about spark"),
      (3L, "another clean doc with no overlap at all"),
      (4L, s"$boiler"))                                  // contaminated (exact boilerplate)
      .toDF("doc_id", "text")
    val viaJoin = Dedup.contaminated(train, col("doc_id"), col("text"),
      evalDocs, col("text"), n = 4).as[Long].collect().toSet
    val bloom = Dedup.contaminatedBloom(train, col("doc_id"), col("text"),
      evalDocs, col("text"), n = 4)
    assert(bloom.as[Long].collect().toSet == viaJoin)
    assert(viaJoin == Set(1L, 4L))
    // the scale property: NO join operator — the probe is a codegen'd
    // filter against a plan-literal sketch inside the train scan stage
    val p = bloom.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"bloom path still joins:\n$p")
    assert(p.contains("graft_bloom_contains"), s"bitset probe missing:\n$p")
    // and on the real documents table both variants agree end-to-end
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val a = Dedup.contaminated(d.filter(col("doc_id") % 50 =!= 0), col("doc_id"),
      col("text"), d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      .as[Long].collect().toSet
    val b = Dedup.contaminatedBloom(d.filter(col("doc_id") % 50 =!= 0), col("doc_id"),
      col("text"), d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      .as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("KMV shingle sketch: exact when the union fits k, within RMSE bounds when sampled") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val (a, b) = (d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 =!= 0))
    val exact = Dedup.corpusOverlap(a, col("text"), b, col("text"), n = 4)
      .select(col("jaccard")).head().getDouble(0)
    // big k: the union fits the sketch, so the estimate IS the exact value
    val kBig = 1 << 20
    val estExact = Dedup.kmvJaccard(
      Dedup.shingleSketch(a, col("text"), 4, kBig),
      Dedup.shingleSketch(b, col("text"), 4, kBig), kBig)
    assert(math.abs(estExact - exact) < 1e-12,
      s"exact-regime sketch drifted: $estExact vs $exact")
    // small k: a genuine sample — deterministic (hash order), bounded by
    // ~3 RMSE = 3/sqrt(k) around the exact value
    val k = 256
    val est = Dedup.kmvJaccard(
      Dedup.shingleSketch(a, col("text"), 4, k),
      Dedup.shingleSketch(b, col("text"), 4, k), k)
    assert(math.abs(est - exact) <= 3.0 / math.sqrt(k),
      s"sampled estimate $est vs exact $exact beyond 3/sqrt($k)")
    // degenerate regimes: disjoint corpora and identical corpora
    assert(Dedup.kmvJaccard(Array(1L, 2L), Array(3L, 4L), 16) == 0.0)
    assert(Dedup.kmvJaccard(Array(1L, 2L), Array(1L, 2L), 16) == 1.0)
  }

  test("autoLshParams: recall holds, random candidates stay O(n), near-random thresholds refuse") {
    // production near-dup regime: threshold 0.8, 100k vectors
    val (b, r) = Dedup.autoLshParams(100000L, 0.8, targetRecall = 0.9)
    val p = 1.0 - math.acos(0.8) / math.Pi
    // recall at the threshold meets the target by construction
    assert(1 - math.pow(1 - math.pow(p, r), b) >= 0.9, s"recall with ($b,$r)")
    // expected random-pair candidates per row bounded (2× slack for the
    // ceil rounding in the fixpoint)
    assert(100000.0 * b * math.pow(2, -r) <= 64, s"selectivity with ($b,$r)")
    assert(b * r <= 8192)
    // near-random threshold (the d05/d07 gate fixture regime): banding
    // cannot be selective — refuse with the routing advice, never burn a
    // silent all-pairs pass
    val e = intercept[IllegalArgumentException] { Dedup.autoLshParams(100000L, 0.45) }
    assert(e.getMessage.contains("IVF"), e.getMessage)
    // auto knobs drive the operator end-to-end: a planted near-dup pair
    // (cosine ≈ 1) among scattered vectors survives; everything is
    // seeded, so this outcome is deterministic
    val n = 400
    val base = spark.range(0, n, 1, 4).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), i =>
        (pmod(xxhash64(lit("al"), col("id"), i), lit(2001)).cast("double") / 1000.0 - 1.0))
        .as("embedding"))
    val planted = base.filter(col("vec_id") === 7)
      .select((col("vec_id") + n).as("vec_id"),
        transform(col("embedding"), x => x * 1.01 + 0.001).as("embedding"))
    val all = base.unionByName(planted)
    val (ab, ar) = Dedup.autoLshParams(n + 1L, 0.9)
    val pairs = Dedup.embeddingNearDups(all, col("vec_id"), col("embedding"),
        threshold = 0.9, bands = ab, rowsPerBand = ar)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, (7 + n).toLong)), s"planted pair missed: $pairs")
  }

  test("sliced as-of join equals the base as-of on a 50%-hot-key fixture, and splits the hot key") {
    // 40k left rows: user 7 holds HALF of them (the skew shape the base
    // per-key window serializes into one task); right rows every ~50
    // ticks, value null on every 5th right row to exercise the
    // ignoreNulls carry
    val left = spark.range(0, 40000, 1, 8)
      .selectExpr("id AS row_id",
        "CASE WHEN id % 2 = 0 THEN 7L ELSE id % 40 END AS k",
        "CAST(id * 13 % 100000 AS LONG) AS ts")
    val right = spark.range(0, 2000, 1, 4)
      .selectExpr("CASE WHEN id % 2 = 0 THEN 7L ELSE id % 40 END AS k",
        "CAST(id * 50 % 100000 AS LONG) AS ts",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) END AS v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("row_id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
        .toMap
    val base = canon(graft.ops.TemporalJoin.asofJoinBackward(
      left, right, key = "k", ts = "ts", rightVals = Seq("v")))
    // slice ticks into ~20 buckets of 5000
    val sliced = graft.ops.TemporalJoin.asofJoinBackwardSliced(
      left, right, key = "k", ts = "ts", rightVals = Seq("v"),
      sliceOf = c => floor(c / 5000L))
    assert(canon(sliced) == base)
    // the skew story itself: the heavy window's shuffle key is
    // (k, __slice), so the hot key's rows split across its slices — the
    // max (k, slice) group is a fraction of the hot key's row count
    val hotRows = left.filter(col("k") === 7).count()
    val maxSliceGroup = left.withColumn("__slice", floor(col("ts") / 5000L))
      .groupBy("k", "__slice").count().agg(max("count")).head().getLong(0)
    assert(hotRows >= 20000 && maxSliceGroup <= hotRows / 10,
      s"hot key not split: $maxSliceGroup of $hotRows in one group")
    // and the physical plan's big exchange partitions by BOTH columns
    val p = sliced.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(k#\\d+L?, __slice".r.findFirstIn(p).isDefined,
      s"heavy window not (key, slice)-partitioned:\n$p")
  }

  test("sliced NEAREST as-of equals the base nearest on a 50%-hot-key fixture, and splits the hot key") {
    // same skew shape as the backward spec: user 7 holds HALF the left
    // rows; right rows unique per (k, ts) so both formulations are
    // deterministic (the documented contract); null values exercise the
    // atomic struct fills
    val left = spark.range(0, 40000, 1, 8)
      .selectExpr("id AS row_id",
        "CASE WHEN id % 2 = 0 THEN 7L ELSE id % 40 END AS k",
        "timestamp_micros((id * 13 % 100000) * 1000000) AS ts")
    val right = spark.range(0, 2000, 1, 4)
      .selectExpr("CASE WHEN id % 2 = 0 THEN 7L ELSE id % 40 END AS k",
        "timestamp_micros((id * 50 % 100000) * 1000000) AS ts",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) END AS v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("row_id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
        .toMap
    val tol = 300L * 1000000L // 300 s
    val base = canon(graft.ops.TemporalJoin.asofJoinNearest(
      left, right, key = "k", ts = "ts", rightVals = Seq("v"),
      toleranceMicros = tol))
    val sliced = graft.ops.TemporalJoin.asofJoinNearestSliced(
      left, right, key = "k", ts = "ts", rightVals = Seq("v"),
      toleranceMicros = tol,
      sliceOf = c => floor(unix_micros(c) / (5000L * 1000000L)))
    assert(canon(sliced) == base)
    // some matches must exist and some must be out-of-tolerance nulls,
    // or the fixture proves nothing
    assert(base.values.exists(_ >= 0) && base.values.exists(_ == -1.0))
    // the heavy window's shuffle key is (k, __slice)
    val p = sliced.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(k#\\d+L?, __slice".r.findFirstIn(p).isDefined,
      s"heavy window not (key, slice)-partitioned:\n$p")
  }

  test("autoSlotSeconds derives the median interval length; auto path equals explicit") {
    // 7 intervals with second-lengths 10,10,10,50,50,100,100 → median 50
    val iv = Seq((0L, 10L), (100L, 110L), (200L, 210L), (300L, 350L),
      (400L, 450L), (500L, 600L), (700L, 800L))
      .toDF("s", "e")
    assert(graft.ops.TemporalJoin.autoSlotSeconds(iv, "s", "e") == 50L)
    val pts = Seq(5L, 105L, 340L, 555L, 999L).toDF("p")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("p", "s", "e").collect().map(_.toSeq).toSet
    val auto = canon(graft.ops.TemporalJoin.intervalJoin(pts, "p", iv, "s", "e"))
    val explicit = canon(graft.ops.TemporalJoin.intervalJoin(pts, "p", iv, "s", "e", 50L))
    assert(auto == explicit && auto.nonEmpty)
    // empty/all-null intervals refuse loudly — no invented default slot
    val none = intercept[IllegalArgumentException] {
      graft.ops.TemporalJoin.autoSlotSeconds(iv.filter(col("s") < 0), "s", "e")
    }
    assert(none.getMessage.contains("no non-null"))
  }

  test("sessionize splits on the gap and counts events") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val df = Seq(
      (1L, ts(0), "a"), (1L, ts(10), "a"), (1L, ts(100), "a"),
      (2L, ts(5), "b"))
      .toDF("user_id", "ts", "event_type")
    val sessions = EventStreams.sessionize(df, gapMinutes = 30)
      .orderBy("user_id", "start").collect()
    assert(sessions.length == 3)
    assert(sessions(0).getLong(3) == 2) // user 1, first session: 2 events
    assert(sessions(1).getLong(3) == 1)
    assert(sessions(2).getLong(3) == 1)
  }

  test("sessionizeBatch equals the typed-state sessionize, without fMGWS in the plan") {
    val events = EventStreams.readEvents(spark, s"$sf/events.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), unix_micros(col("start")).as("s"),
        unix_micros(col("end")).as("e"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = EventStreams.sessionizeBatch(events, gapMinutes = 30)
    assert(canon(batch) == canon(EventStreams.sessionize(events, gapMinutes = 30)))
    // the batch path must be the window plan: bounded per-user state
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("FlatMapGroupsWithState"))
    assert(plan.contains("Window"))
  }

  test("portable token hash matches its closed form and discriminates") {
    val df = Seq((1L, "ab"), (2L, "ba"), (3L, "ab")).toDF("id", "t")
      .select(col("id"), Dedup.portableTokenHash(col("t")).as("h"))
    val h = df.as[(Long, Long)].collect().toMap
    def poly(s: String, b: Long, m: Long) = s.foldLeft(7L)((a, c) => (a * b + c) % m)
    assert(h(1L) == poly("ab", 31, 1000000007L) * 4294967296L + poly("ab", 131, 998244353L))
    assert(h(1L) == h(3L) && h(1L) != h(2L))
    // bits 62-63 carry no entropy (documented contract for the oracle)
    assert((h(1L) >>> 62) == 0 && (h(2L) >>> 62) == 0)
  }

  test("PolyHash expression is bit-identical to the HOF aggregate/split/ascii form") {
    import graft.functions.HashFunctions
    // edge cases: empty (split('','') folds one ascii('')=0 code),
    // non-ASCII (Spark ascii = full code point: é→233, €→8364), plus
    // real corpus tokens
    val edge = Seq("", "a", "ab", "hello world", "hé€", "é", "x" * 300).toDF("t")
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t")).limit(2000)
    for (df <- Seq(edge, toks); (b, m) <- Seq((31L, 1000000007L), (131L, 998244353L), (257L, 2147483647L))) {
      val hof = aggregate(transform(split(col("t"), ""), ch => ascii(ch).cast("long")),
        lit(7L), (a, c) => pmod(a * b + c, lit(m)))
      val mismatches = df
        .select(HashFunctions.polyHash(col("t"), b, m).as("cg"), hof.as("hof"))
        .filter(col("cg") =!= col("hof")).count()
      assert(mismatches == 0, s"base=$b mod=$m")
    }
    // interpreted (non-codegen) eval path agrees too
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = graft.functions.PolyHash(
      Literal.create("ab"), Literal.create(31L), Literal.create(1000000007L))
    assert(interp.eval(null) == "ab".foldLeft(7L)((a, c) => (a * 31 + c) % 1000000007L))
  }

  test("PlaneSignatures expression is bit-identical to the HOF zip_with/aggregate form") {
    VectorFunctions.register(spark)
    val planes = Similarity.randomPlanes(16, 64)
    val hof = planes.zipWithIndex.map { case (plane, p) =>
      val dot = zip_with(col("v"), typedLit(plane), (x, w) => x * w)
      val s = aggregate(dot, lit(0.0), (acc, x) => acc + x)
      when(s >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    // single band of 16 planes ≡ the one-signature contract
    val single = df.select(
        Similarity.hyperplaneSignature(col("v"), planes).as("cg"), hof.as("hof"))
      .filter(col("cg") =!= col("hof")).count()
    assert(single == 0)
    // 4 bands × 4 planes: band b of the array = signature of plane slice b
    val banded = df.select(Similarity.bandSignatures(col("v"), planes, 4).as("sigs"),
      array((0 until 4).map(b => Similarity.hyperplaneSignature(col("v"),
        planes.slice(b * 4, (b + 1) * 4))): _*).as("ref"))
      .filter(col("sigs") =!= col("ref")).count()
    assert(banded == 0)
  }

  test("PolyHash clamps malformed UTF-8 to single code units, deterministically") {
    import graft.functions.PolyHash
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def poly(codes: Seq[Int], b: Long, m: Long) =
      codes.foldLeft(7L)((a, c) => (a * b + c) % m)
    def hash(bytes: Array[Byte]): Long =
      PolyHash(Literal.create(UTF8String.fromBytes(bytes), StringType),
        Literal.create(31L), Literal.create(1000000007L)).eval(null).asInstanceOf[Long]
    // truncated 2-byte lead at end of buffer → one code unit (0xC3), no
    // read past numBytes
    assert(hash(Array('a'.toByte, 0xC3.toByte)) == poly(Seq('a'.toInt, 0xC3), 31, 1000000007L))
    // stray continuation byte (classified as 4-byte lead, clamped)
    assert(hash(Array(0x80.toByte)) == poly(Seq(0x80), 31, 1000000007L))
    // truncated 4-byte lead with one continuation: lead clamps to a unit,
    // then the continuation clamps too
    assert(hash(Array(0xF0.toByte, 0x9F.toByte)) == poly(Seq(0xF0, 0x9F), 31, 1000000007L))
    // codegen path agrees with the interpreted clamp (binary→string cast
    // never validates UTF-8 — the reachable malformed-input route)
    val viaDf = Seq(Array('a'.toByte, 0xC3.toByte)).toDF("b")
      .select(graft.functions.HashFunctions.polyHash(
        col("b").cast("string"), 31, 1000000007L).as("h"))
      .head().getLong(0)
    assert(viaDf == poly(Seq('a'.toInt, 0xC3), 31, 1000000007L))
    // well-formed multi-byte input still decodes full code points
    assert(hash("é".getBytes("UTF-8")) == poly(Seq(233), 31, 1000000007L))
  }

  test("PlaneSignatures nulls out rows whose dim mismatches the planes") {
    VectorFunctions.register(spark)
    val planes = Similarity.randomPlanes(8, 4)
    val df = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0)), (2L, Seq(1.0, 2.0, 3.0)),
      (3L, Seq.empty[Double]))
      .toDF("id", "v")
      .select(col("id"), VectorFunctions.planeSignatures(col("v"), planes, 4).as("sigs"))
    val rows = df.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L) && rows(2L) && rows(3L))
    // operator-level: a ragged row degrades to "no candidates", not wrong
    // offsets or a crash
    val emb = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(1.0, 0.01, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, col("vec_id"), col("embedding"),
      threshold = 0.9).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ensureParallelism widens narrow scans from stats, leaves wide scans alone") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val target = spark.sessionState.conf.numShufflePartitions
    // tiny file → stats say one scan partition → widened
    assert(Dedup.ensureParallelism(docs).rdd.getNumPartitions == target)
    // shrink maxPartitionBytes so the same file estimates >= target scan
    // partitions → returned untouched (same reference, no repartition)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "128")
      val wide = spark.read.parquet(s"$sf/documents.parquet")
      assert(Dedup.ensureParallelism(wide) eq wide)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("rarity-ordered prefixes: identical pairs, fewer candidates under a hot shingle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // both global orders produce the same verified pairs on the d02 corpus
    val hashPairs = canon(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 3, threshold = 0.8, rarityPrefix = Some(false)))
    val rarityPairs = canon(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 3, threshold = 0.8, rarityPrefix = Some(true)))
    assert(hashPairs.nonEmpty && rarityPairs == hashPairs)
    // skewed fixture: one boilerplate sentence shared by 30% of docs. Its
    // shingles are corpus-hot; under hash order they can land in prefixes
    // and fan out quadratically in their buckets, under rarity order they
    // sort to the suffixes — candidate count must drop measurably.
    val hot = "all rights reserved contact support for help with this product today"
    val skewed = (0 until 200).map { i =>
      val base = (0 until 12).map(j => s"tok${i}_$j").mkString(" ")
      (i.toLong, if (i % 10 < 3) s"$hot $base" else base)
    }.toDF("id", "text")
    val nHash = Dedup.candidatePairs(skewed, col("id"), col("text"),
      n = 3, threshold = 0.5, rarity = false).count()
    val nRarity = Dedup.candidatePairs(skewed, col("id"), col("text"),
      n = 3, threshold = 0.5, rarity = true).count()
    assert(nRarity < nHash / 2,
      s"expected rarity order to cut candidates: hash=$nHash rarity=$nRarity")
    // and the skewed corpus still verifies to the same pairs either way
    val vHash = canon(Dedup.ngramJaccardPairs(skewed, col("id"), col("text"),
      n = 3, threshold = 0.5, rarityPrefix = Some(false)))
    val vRarity = canon(Dedup.ngramJaccardPairs(skewed, col("id"), col("text"),
      n = 3, threshold = 0.5, rarityPrefix = Some(true)))
    assert(vRarity == vHash)
  }

  test("bucketed embedding near-dup (explicit 32x4) equals exact mode on the test corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = canon(Dedup.embeddingNearDups(emb, col("vec_id"), col("embedding"),
      threshold = 0.45, exact = true))
    val lsh = canon(Dedup.embeddingNearDups(emb, col("vec_id"), col("embedding"),
      threshold = 0.45, bands = 32, rowsPerBand = 4))
    assert(exact.nonEmpty)
    assert(lsh == exact) // 32×4 banding: per-pair recall >0.998 at cos≥0.45
  }

  test("embeddingNearDups default knobs are autoLshParams-derived: selective at 0.9, refuses near-random") {
    // default call (no knobs) on a clustered fixture: planted near-identical
    // pair found, proving the derived banding is in the default path and
    // recall holds where banding is selective
    val n = 2000
    val base = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 8).map(j =>
        sin(col("id") * (j * 104729 + 13)).cast("double")): _*).as("embedding"))
    val planted = base.filter(col("vec_id") === 7)
      .select((col("vec_id") + n).as("vec_id"),
        transform(col("embedding"), x => x * 1.01 + 0.0001).as("embedding"))
    val pairs = Dedup.embeddingNearDups(base.unionByName(planted),
        col("vec_id"), col("embedding"), threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, (7 + n).toLong)), s"planted pair missed: $pairs")
    // and at a threshold too close to random for sign-bit banding, the
    // default call REFUSES loudly (32x4 would silently go near-quadratic)
    val big = spark.range(100000).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.0), lit(0.0), lit(0.0)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(big, col("vec_id"), col("embedding"),
        threshold = 0.45).count()
    }
    assert(e.getMessage.contains("no selective banding"))
  }

  test("MinHashLanes expression is bit-identical to the HOF transform/array_min form") {
    VectorFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val sh = docs.select(col("doc_id"),
      Dedup.wordShingles(col("text"), 3).as("shingles"))
    val expr = sh.select(col("doc_id"),
        Dedup.minHashSignature(col("shingles"), 64).as("sig"))
      .as[(Long, Seq[Option[Long]])].collect().sortBy(_._1)
    val hof = sh.select(col("doc_id"),
        Dedup.minHashSignatureHof(col("shingles"), 64).as("sig"))
      .as[(Long, Seq[Option[Long]])].collect().sortBy(_._1)
    assert(expr.nonEmpty)
    assert(expr.toSeq == hof.toSeq)
    // empty shingle array → all-NULL lanes, like array_min(empty)
    val empty = Seq(Seq.empty[String]).toDF("shingles")
      .select(Dedup.minHashSignature(col("shingles"), 4).as("sig"))
      .as[Seq[Option[Long]]].head()
    assert(empty == Seq(None, None, None, None))
    // interpreted (non-codegen) eval agrees too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val arr = Literal.create(Seq("alpha", "beta"), ArrayType(StringType))
    val interp = graft.functions.MinHashLanes(arr, Literal(8))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val viaDf = Seq(Seq("alpha", "beta")).toDF("s")
      .select(Dedup.minHashSignature(col("s"), 8)).as[Seq[Long]].head()
    assert(interp.toSeq == viaDf)
  }

  test("WordShingles expression is bit-identical to the HOF split/slice/concat_ws form") {
    VectorFunctions.register(spark)
    // the corpus, plus every tokenizer edge: empty, space-only (trim
    // eats 0x20 but not tabs/newlines — Java-split leading/trailing
    // empty tokens), short docs, collapsed runs, multibyte chars
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select(col("text"))
    val edges = Seq("", " ", "\t", "a", "a b", "a  b", "\tx y", "x y\n",
      "a\t\nb  c ", "héllo wörld déjà vu encore", "one two three four five")
      .toDF("text")
    for (n <- Seq(2, 3, 5)) {
      val both = corpus.union(edges).select(
        Dedup.wordShingles(col("text"), n).as("fast"),
        Dedup.wordShinglesHof(col("text"), n).as("hof"))
      assert(both.filter(not(col("fast") <=> col("hof"))).isEmpty,
        s"n=$n mismatch: " + both.filter(not(col("fast") <=> col("hof")))
          .limit(3).collect().mkString("; "))
    }
    // interpreted path agrees with the DataFrame (codegen) path
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = graft.functions.WordShingles(Literal("a b c d"), Literal(3))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(interp == Seq("a b c", "b c d"))
  }

  test("native hash expressions skip null array elements instead of NPEing") {
    VectorFunctions.register(spark)
    // null elements never come out of the shingle pipeline, but both
    // functions are exposed to arbitrary SQL via GraftExtensions — they
    // must skip nulls like xxhash64 does, not NPE on the executor
    val row = spark.sql(
      "SELECT graft_minhash_lanes(array('x', CAST(NULL AS STRING), 'y'), 4) AS mh, " +
        "graft_prefix_by_hash(array('x', CAST(NULL AS STRING), 'y', 'z'), 2) AS pf, " +
        "graft_minhash_lanes(array(CAST(NULL AS STRING)), 4) AS mh_all_null").head()
    val noNull = spark.sql(
      "SELECT graft_minhash_lanes(array('x','y'), 4) AS mh, " +
        "graft_prefix_by_hash(array('x','y','z'), 2) AS pf").head()
    assert(row.getSeq[Long](0) == noNull.getSeq[Long](0))
    assert(row.getSeq[String](1) == noNull.getSeq[String](1))
    // an all-null array degenerates to the empty-array all-NULL lanes
    assert(row.getSeq[Any](2) == Seq(null, null, null, null))
    // interpreted (non-codegen) eval path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val withNull = Literal.create(Seq("x", null, "y"), ArrayType(StringType))
    val plain = Literal.create(Seq("x", "y"), ArrayType(StringType))
    assert(graft.functions.MinHashLanes(withNull, Literal(4)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      == graft.functions.MinHashLanes(plain, Literal(4)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
  }

  test("PrefixByHash selects exactly the HOF struct-sort prefix, in its order") {
    VectorFunctions.register(spark)
    val sh = spark.read.parquet(s"$sf/documents.parquet").limit(200)
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles"))
    val prefLen = (size(col("shingles")) - ceil(size(col("shingles")) * 0.8) + 1).cast("int")
    val fast = sh.select(col("doc_id"),
      graft.functions.HashFunctions.prefixByHash(col("shingles"), prefLen).as("p"))
    val hof = sh.select(col("doc_id"),
      transform(slice(
        array_sort(transform(col("shingles"), s => struct(xxhash64(s).as("h"), s.as("s")))),
        lit(1), prefLen), x => x.getField("s")).as("p"))
    assert(fast.as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
      == hof.as[(Long, Seq[String])].collect().sortBy(_._1).toSeq)
  }

  test("GraftExtensions injects every native function into a fresh SQL-only session") {
    // force the builder to construct a NEW session (same SparkContext)
    // so the extension actually applies — getOrCreate would otherwise
    // hand back the suite session
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = GraftSession.builder("local[2]", 2)
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      assert(s2 ne prev)
      val names = graft.functions.Native.table.map(_.name)
      assert(names.size == 25 && names.distinct.size == 25, names)
      val missing = names.filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
      assert(s2.sql("SELECT graft_cosine(array(1d,0d), array(1d,0d))")
        .head().getDouble(0) == 1.0)
      assert(s2.sql("SELECT graft_polyhash('ab', 31l, 1000000007l)").head().getLong(0)
        == ((7L * 31 + 'a') * 31 + 'b') % 1000000007L)
      assert(s2.sql("SELECT graft_word_shingles('a b c', 2)")
        .head().getSeq[String](0) == Seq("a b", "b c"))
      assert(s2.sql("SELECT graft_minhash_lanes(array('x','y'), 4)")
        .head().getSeq[Long](0).length == 4)
      assert(s2.sql("SELECT graft_prefix_by_hash(array('x','y','z'), 2)")
        .head().getSeq[String](0).length == 2)
      assert(s2.sql("SELECT graft_deflate_size('aaaaaaaaaaaaaaaaaaaaaaaa')")
        .head().getInt(0) < 24, "repetitive text must deflate below its length")
      assert(s2.sql("SELECT graft_pq_encode(array(0.1d,0.1d), array(0d,0d,1d,1d), 2, 2)")
        .head().getSeq[Int](0) == Seq(0))
      assert(s2.sql("SELECT graft_pq_adc(array(1), array(10d,20d), 2)")
        .head().getDouble(0) == 20.0)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("Native table: each entry's Column analyzes like call_function on a registered session") {
    import graft.functions.Native
    VectorFunctions.register(spark)
    val df = Seq((Seq(1.0, 0.0), "a b c", Seq("a", "b", "c"), Seq(0), Array[Byte](127, 0), 5L, 9L))
      .toDF("v", "s", "toks", "codes", "bin", "x", "y")
    val (v, s, toks) = (col("v"), col("s"), col("toks"))
    val args: Map[String, Seq[Column]] = Map(
      "graft_cosine" -> Seq(v, v),
      "graft_plane_sigs" -> Seq(v, typedLit(Seq(1.0, -1.0)), lit(1), lit(2)),
      "graft_top_clusters" -> Seq(v, typedLit(Seq(1.0, 0.0, 0.0, 1.0)), lit(2), lit(1)),
      "graft_pq_encode" -> Seq(v, typedLit(Seq(0.0, 0.0, 1.0, 1.0)), lit(2), lit(2)),
      "graft_pq_adc" -> Seq(col("codes"), typedLit(Seq(10.0, 20.0)), lit(2)),
      "graft_sq8_encode" -> Seq(v),
      "graft_sq8_dot" -> Seq(col("bin"), typedLit(Seq(1.0, 0.0))),
      "graft_hilbert" -> Seq(col("x"), col("y"), lit(4)),
      "graft_keyword_tags" -> Seq(s, typedLit(Seq("a", "c"))),
      "graft_md5_prefix52" -> Seq(s),
      "graft_poisson_mults" -> Seq(s, lit(3), lit("salt")),
      "graft_wordpiece" -> Seq(s, typedLit(Seq("a", "##b"))),
      "graft_bpe_encode" -> Seq(s, typedLit(Seq("a", " "))),
      "graft_polyhash" -> Seq(s, lit(31L), lit(1000000007L)),
      "graft_slot_counts" -> Seq(toks, lit(8)),
      "graft_hashed_margin" -> Seq(toks, typedLit(Seq(0.5, -0.5)), lit(0.1)),
      "graft_minhash_lanes" -> Seq(toks, lit(4)),
      "graft_word_shingles" -> Seq(s, lit(2)),
      "graft_word_grams" -> Seq(s, lit(2)),
      "graft_prefix_by_hash" -> Seq(toks, lit(2)),
      "graft_bloom_contains" -> Seq(lit(Array.fill[Byte](8)(-1)), xxhash64(s), lit(2)),
      "graft_deflate_size" -> Seq(s),
      "graft_nfc" -> Seq(s),
      "graft_jaro_winkler" -> Seq(s, lit("a b d")),
      "graft_simhash_portable" -> Seq(toks))
    assert(args.keySet == Native.table.map(_.name).toSet)
    for (f <- Native.table) {
      val native = df.select(Native(f.name, args(f.name): _*))
      val named = df.select(call_function(f.name, args(f.name): _*))
      def expr(d: DataFrame) = {
        val a = d.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
          .projectList.head.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias]
        (a.name, a.child)
      }
      assert(expr(native) == expr(named), f.name)
      assert(native.collect().toSeq == named.collect().toSeq, f.name)
    }
  }

  test("Native table: each entry's expression is named by its table name") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // four placeholder arguments cover every builder's arity
    val misnamed = graft.functions.Native.table
      .map(f => f.name -> f.build(Seq.fill(4)(Literal(0))).prettyName)
      .filter { case (name, pretty) => name != pretty }
    assert(misnamed.isEmpty, misnamed)
  }

  test("native-function Columns resolve on a session that is not the active one, unregistered") {
    SparkSession.setActiveSession(spark)
    val other = spark.newSession()
    val names = Seq("graft_polyhash", "graft_hashed_margin", "graft_simhash_portable",
      "graft_md5_prefix52")
    def rows(s: SparkSession) = s.createDataFrame(Seq((1L, "a b c"), (2L, "b c d"), (3L, "")))
      .toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("toks"), col("text"))
      .select(col("id"),
        graft.functions.HashFunctions.polyHash(col("text"), 257L, 2147483647L).as("ph"),
        graft.functions.HashFunctions.hashedMargin(col("toks"), Seq(0.25, -0.5, 1.0), 0.1).as("m"),
        graft.functions.HashFunctions.simHashPortable(col("toks")).as("sh"),
        graft.ops.Sketches.kmvHash(col("id"), "x").as("kh"))
      .collect().sortBy(_.getLong(0)).toSeq
    assert(SparkSession.active eq spark)
    assert(names.forall(n => !other.catalog.functionExists(n)))
    val got = rows(other)
    assert(got == rows(spark))
    assert(got.size == 3)
    // building and running the Columns registered nothing there
    assert(names.forall(n => !other.catalog.functionExists(n)))
  }

  test("connectedComponents: chains close transitively, singletons self-label") {
    // components: {1,2,3} via 1-2, 2-3 (min label 1), {7,9} (min 7), {5} alone
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"),
      ids, col("doc_id")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents: 200-node chain converges within the round cap") {
    // diameter 200 — plain neighbor propagation would need 200 rounds
    // and trip the 25-round cap; pointer jumping closes it in O(log n)
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L to 200L).toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"),
      ids, col("doc_id")).as[(Long, Long)].collect()
    assert(got.length == 201 && got.forall(_._2 == 0L))
  }

  test("connectedComponents precondition: c01's pair endpoints are all document ids") {
    // the gate's own inputs (OpsQueries c01_dedup_clusters): every
    // endpoint of the near-dup pairs must be an id of `ids`, or components
    // would merge through, and be labeled by, an id outside the corpus
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minHashNearDups(d, col("doc_id"), col("text"), n = 3, threshold = 0.8)
    val endpoints = pairs.select(col("id_a").as("e")).union(pairs.select(col("id_b").as("e")))
    assert(!endpoints.isEmpty, "c01 has no near-dup pairs at sf0.001; the check would be vacuous")
    assert(endpoints.join(d, col("e") === col("doc_id"), "left_anti").isEmpty)
  }

  test("decontamination flags planted n-gram overlap, leaves clean docs alone") {
    val eval = Seq((900L, "the secret benchmark answer is forty two exactly"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "some prose containing the secret benchmark answer is forty two exactly verbatim"),
      (2L, "entirely unrelated text with no overlap whatsoever here"),
      (3L, "short"))
      .toDF("doc_id", "text")
    val flagged = Dedup.contaminated(train, col("doc_id"), col("text"),
      eval, col("text"), n = 5).as[Long].collect().toSet
    assert(flagged == Set(1L))
  }

  test("fuzzyDedupCorpus keeps exactly one row per near-dup cluster") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again!"),
      (12L, "a completely different document about spark query planning"),
      (13L, "yet another unrelated piece of text mentioning nothing shared"))
      .toDF("doc_id", "text")
    val kept = Dedup.fuzzyDedupCorpus(docs, col("doc_id"), col("text"),
      n = 3, threshold = 0.5).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L, 13L)) // 11 collapses into 10's cluster
  }

  test("scrubPii redacts emails, urls, and long digit runs; leaves prose alone") {
    val got = Seq("mail bob.smith+x@corp.example.org now, see http://a.example/x?y=1 id 123456789 tel 12345678")
      .toDF("t").select(TextOps.scrubPii(col("t"))).as[String].head()
    assert(got == "mail <EMAIL> now, see <URL> id <NUM> tel 12345678")
  }

  test("repetitionMetrics: planted repetition scores as expected") {
    val docs = Seq(
      (1L, "spam spam spam spam"),         // dup 3/4, top bigram 3/3
      (2L, "all tokens here are distinct"),// dup 0, top bigram 1/4
      (3L, ""))                            // empty: both 0
      .toDF("doc_id", "text")
    val got = TextOps.repetitionMetrics(docs, col("doc_id"), col("text"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (0.75, 1.0))
    assert(got(2L) == (0.0, 0.25))
    assert(got(3L) == (0.0, 0.0))
  }

  test("gopherQuality: planted rule violations flip exactly their metric and the pass flag") {
    val docs = Seq(
      // clean: 12 plain words incl. two distinct stopwords → passes
      (1L, "the quick brown fox jumps over a lazy dog near the river bank"),
      // bullet-heavy: 3 of 4 lines start with a bullet → bullet_frac 0.75
      (2L, "the list of items\n• one thing\n- another thing\n* third thing is here"),
      // symbol-laden: many # per word → symbol_ratio over the 0.1 cap
      (3L, "the ## tag # of ## a # tagged ## doc # with # many ## hashes #"),
      // ellipsis lines: both lines trail off → ellipsis_frac 1.0
      (4L, "the start of a thought...\nand of another one…"),
      // too short + no second stopword
      (5L, "tiny doc"),
      (6L, "")) // empty: all-zero metrics, fails
      .toDF("doc_id", "text")
    val got = TextOps.gopherQuality(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("gopher_pass"))
    assert(got(2L).getAs[Double]("bullet_frac") == 0.75)
    assert(got(2L).getAs[Boolean]("gopher_pass"),
      "bullet_frac 0.75 is under the 0.9 default cap — doc 2 still passes")
    assert(got(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!got(3L).getAs[Boolean]("gopher_pass"))
    assert(got(4L).getAs[Double]("ellipsis_frac") == 1.0)
    assert(!got(4L).getAs[Boolean]("gopher_pass"))
    assert(got(5L).getAs[Int]("n_words") == 2)
    assert(!got(5L).getAs[Boolean]("gopher_pass"))
    assert(got(6L).getAs[Int]("n_words") == 0)
    assert(!got(6L).getAs[Boolean]("gopher_pass"))
    // mean word length lands in the plausible band on real words
    assert(got(1L).getAs[Double]("mean_wlen") > 3.0 &&
      got(1L).getAs[Double]("mean_wlen") < 10.0)
  }

  test("PQ index: codes compress, ADC+re-rank equals brute force, clustered recall full at tight rerank") {
    import graft.ops.Similarity
    // near-random fixture (hardest PQ regime): with the gate's calibrated
    // rerank, PQ + exact re-rank must reproduce brute force exactly
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.filter(col("vec_id") =!= 0)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toSeq
    val idx = Similarity.buildPq(corpus, col("vec_id"), col("embedding"), m = 16, kCode = 16)
    // the codes frame carries m ints per row — the compressed representation
    assert(idx.codes.select(size(col("codes"))).head().getInt(0) == 16)
    assert(idx.codes.select(max(flatten(array(col("codes"))))).head()
      .getSeq[Int](0).forall(c => c >= 0 && c < 16))
    val got = idx.topK(qv, k = 10, rerank = (corpus.count() / 3).toInt)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
    val want = Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"), qv, 10)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
    assert(got == want, "PQ + re-rank must equal brute force, same order, same cosines")
    // clustered (real-corpus-shaped) fixture: full recall@10 at
    // rerank = 2× the ~50-member cluster size (corpus/20) — the regime
    // where PQ's byte reduction pays. rerank below the cluster size
    // CANNOT be exact here: all same-center members quantize to
    // near-identical codes, so ADC ties across the cluster and the true
    // top-10 (decided by the noise PQ quantizes away) spreads anywhere
    // inside it — re-rank must cover the tie class.
    val ce = OpsQueries.clusteredEmb(spark)
    val cCorpus = ce.filter(col("vec_id") =!= 0)
    val cq = OpsQueries.clusteredQueryVec(spark)
    val cIdx = Similarity.buildPq(cCorpus, col("vec_id"), col("embedding"), m = 8, kCode = 16)
    val cGot = cIdx.topK(cq, k = 10, rerank = 100)
      .select("vec_id").as[Long].collect().toSet
    val cWant = Similarity.bruteForceTopK(cCorpus, col("vec_id"), col("embedding"), cq, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(cGot == cWant, s"clustered recall@10 must be full at rerank 100: got ${(cGot & cWant).size}/10")
  }

  test("dedupParagraphs: first occurrence wins, short lines always survive, emptied docs drop") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "Alpha beta\nFOOTER\n--\nunique one"),
      (2L, "FOOTER\ngamma delta\n--"), // FOOTER already in doc 1; "--" is short
      (3L, "alpha beta")) // case-normalized dup of doc 1's first paragraph
      .toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Alpha beta\nFOOTER\n--\nunique one",
      "first occurrences keep their original (un-normalized) text and order")
    assert(got(2L) == "gamma delta\n--",
      "cross-doc dup drops; sub-minChars separator survives everywhere")
    assert(!got.contains(3L), "a doc whose every paragraph occurred earlier drops out")
  }

  test("WordGrams: bit-equal to the HOF formulation, duplicates kept, sub-n empty") {
    import graft.functions.HashFunctions
    val df = Seq("a b a b a", "single", "", "x  y\tz", "a b")
      .toDF("t")
    val hof = df.select(
      when(size(split(col("t"), "\\s+")) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(split(col("t"), "\\s+")) - 2),
          i => concat_ws(" ", slice(split(col("t"), "\\s+"), i + 1, lit(2)))))
        .as("g")).as[Seq[String]].collect().toSeq
    val native = df.select(HashFunctions.wordGrams(col("t"), 2).as("g"))
      .as[Seq[String]].collect().toSeq
    // the "" row differs by design (tokens() guards empties before the
    // expression) — compare the non-empty-text rows bit-for-bit
    assert(native(0) == hof(0) && native(0) == Seq("a b", "b a", "a b", "b a"),
      s"duplicates kept in position order: ${native(0)}")
    assert(native(1).isEmpty && native(3) == hof(3) && native(4) == hof(4))
    // interpreted (non-codegen) eval parity
    import org.apache.spark.unsafe.types.UTF8String
    val arr = graft.functions.WordGramsImpl
      .compute(UTF8String.fromString("p q r"), 2)
    assert(arr.numElements() == 2)
  }

  test("cutSpans: removes exactly the flagged ranges, keeps clean docs verbatim-normalized") {
    import graft.ops.Dedup
    val train = Seq(
      (1L, "w1 w2 SECRET a b c d e f g h END w3"),
      (2L, "clean doc stays whole with every single token intact"))
      .toDF("doc_id", "text")
    val test = Seq("SECRET a b c d e f g h END").toDF("t")
    val spans = Dedup.contaminationSpans(train, col("doc_id"), col("text"),
      test, col("t"), k = 4)
    val got = Dedup.cutSpans(train, col("doc_id"), col("text"), spans)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "w1 w2 w3", 10L)), s"${got(1L)}")
    assert(got(2L) == ((2L,
      "clean doc stays whole with every single token intact", 0L)))
    // a doc that IS the excerpt gets cut to nothing and drops
    val all = Seq((9L, "secret a b c d e f g h end")).toDF("doc_id", "text")
    val s9 = Dedup.contaminationSpans(all, col("doc_id"), col("text"),
      test, col("t"), k = 4)
    assert(Dedup.cutSpans(all, col("doc_id"), col("text"), s9).count() == 0)
  }

  test("contaminationSpans: test excerpt reports as one exact span, clean docs silent") {
    import graft.ops.Dedup
    val train = Seq(
      (1L, "w1 w2 SECRET a b c d e f g h END w3"), // 10-token excerpt at pos 2
      (2L, "totally clean text with no leaked content here at all"))
      .toDF("doc_id", "text")
    val test = Seq("SECRET a b c d e f g h END").toDF("t")
    val got = Dedup.contaminationSpans(train, col("doc_id"), col("text"),
        test, col("t"), k = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 12L, 10L)),
      s"one maximal span covering the verbatim excerpt: $got")
  }

  test("duplicatedSpans: maximal islands, intra-doc repeats count, sub-k stays silent") {
    import graft.ops.Dedup
    // docs 1 and 2 share "a b c d e f" (6 tokens, k=4 → 3 windows →
    // one merged span of 6); doc 3 repeats its own 4-gram; doc 4 shares
    // only a 3-token run with doc 1 — below k, must not trigger
    val docs = Seq(
      (1L, "a b c d e f x1 y1"),
      (2L, "z2 a b c d e f"),
      (3L, "p q r s gap1 gap2 p q r s"),
      (4L, "a b c other tokens here pad"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, col("doc_id"), col("text"), k = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 6L, 6L),   // tokens 0..5 of doc 1
      (2L, 1L, 7L, 6L),   // shifted by the z2 prefix
      (3L, 0L, 4L, 4L),   // self-repetition: both occurrences flagged
      (3L, 6L, 10L, 4L)), s"got $got")
    val frac = Dedup.duplicatedTokenFraction(docs, col("doc_id"), col("text"), k = 4)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(frac(1L) == ((1L, 6L, 8L, 0.75)))
    assert(frac(3L) == ((3L, 8L, 10L, 0.8)))
    assert(frac(4L) == ((4L, 0L, 7L, 0.0)), "clean doc reports 0, not NULL")
  }

  test("longestDuplicatedSpans: exact boundaries, intra-doc repeats, capped runs") {
    import graft.ops.Dedup
    // a 12-token block planted in docs 1 and 2 at different offsets with
    // unique context — the span must be EXACTLY the block (the
    // over/under-cut the k-gram islands of d21 cannot promise)
    val x = (1 to 12).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha bravo charlie delta echo $x foxtrot golf"),
      (2L, s"uniq1 uniq2 $x tail1 tail2 tail3"),
      (3L, "completely different text with no repeats at all whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.longestDuplicatedSpans(docs, col("doc_id"), col("text"),
        minLen = 8, maxLen = 64)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 5L, 17L, 12L, false), (2L, 2L, 14L, 12L, false)),
      s"got $got")
    // intra-doc self-repetition: both occurrences report, exact length
    val self = Seq((7L, ((1 to 10).map(i => s"a$i").mkString(" ")) +
        " gap " + ((1 to 10).map(i => s"a$i").mkString(" "))))
      .toDF("doc_id", "text")
    val gotSelf = Dedup.longestDuplicatedSpans(self, col("doc_id"),
        col("text"), minLen = 8, maxLen = 64)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(gotSelf == Set((7L, 0L, 10L, 10L, false), (7L, 11L, 21L, 10L, false)),
      s"got $gotSelf")
    // a run longer than maxLen: ONE capped span at the run start per
    // occurrence, never a span per position
    val capped = Dedup.longestDuplicatedSpans(docs, col("doc_id"),
        col("text"), minLen = 4, maxLen = 8)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(capped == Set((1L, 5L, 13L, 8L, true), (2L, 2L, 10L, 8L, true)),
      s"got $capped")
  }

  test("keySkewProfile + keyGini: exact shares, uniform gini 0, concentrated gini high") {
    import graft.ops.Profile
    val skewed = (Seq.fill(6)("hot") ++ Seq("a", "b")).toDF("k")
    val prof = Profile.keySkewProfile(skewed, col("k"), k = 2)
      .as[(Int, String, Long, Double, Double)].collect().toList
    assert(prof == List((1, "hot", 6L, 0.75, 0.75), (2, "a", 1L, 0.125, 0.875)),
      s"got $prof")
    val uniform = Seq("a", "b", "c", "d").toDF("k")
    assert(Profile.keyGini(uniform, col("k"))
      .as[(Long, Long, Double)].collect().head == ((4L, 4L, 0.0)))
    // counts (1,1,6): G = (2*1*1 + 2*2*1 + 2*3*6 - 4*8) / (3*8) = 10/24
    val g = Profile.keyGini(skewed, col("k"))
      .as[(Long, Long, Double)].collect().head
    assert(g == ((3L, 8L, 0.416667)), s"hand gini: $g")
  }

  test("spearmanCorr: monotone nonlinear is exactly 1, reversal -1, constant NULL") {
    import graft.ops.Profile
    val mono = Seq((1.0, 10.0), (2.0, 100.0), (3.0, 105.0), (4.0, 10000.0))
      .toDF("x", "y")
    val m = Profile.spearmanCorr(mono, col("x"), col("y"))
      .as[(Long, Option[Double])].collect().head
    assert(m == ((4L, Some(1.0))), s"any monotone relation ranks perfectly: $m")
    val rev = Seq((1.0, 4.0), (2.0, 3.0), (3.0, 2.0), (4.0, 1.0)).toDF("x", "y")
    assert(Profile.spearmanCorr(rev, col("x"), col("y"))
      .as[(Long, Option[Double])].collect().head._2.contains(-1.0))
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("x", "y")
    assert(Profile.spearmanCorr(const, col("x"), col("y"))
      .as[(Long, Option[Double])].collect().head._2.isEmpty,
      "constant column has no ranking")
  }

  test("ndcgAtK: 1.0 for the ideal order, hand value for a reversed one, NULL on zero relevance") {
    import graft.ops.Retrieval
    // q1 scores align with relevance -> ndcg 1; q2 scores exactly reversed
    val df = Seq(
      (1L, 10L, 0.9, 3), (1L, 11L, 0.8, 2), (1L, 12L, 0.7, 1),
      (2L, 20L, 0.9, 1), (2L, 21L, 0.8, 2), (2L, 22L, 0.7, 3),
      (3L, 30L, 0.9, 0), (3L, 31L, 0.8, 0))
      .toDF("q", "d", "s", "r")
    val got = Retrieval.ndcgAtK(df, col("q"), col("d"), col("s"), col("r"), k = 10)
      .as[(Long, Long, Option[Double])].collect().map(x => x._1 -> x).toMap
    assert(got(1L) == ((1L, 3L, Some(1.0))))
    val dcg = 1.0 / 1.0 + 3.0 / (math.log(3.0) / math.log(2.0)) + 7.0 / 2.0
    val idcg = 7.0 / 1.0 + 3.0 / (math.log(3.0) / math.log(2.0)) + 1.0 / 2.0
    assert(math.abs(got(2L)._3.get - dcg / idcg) < 1e-6, s"${got(2L)}")
    assert(got(3L)._3.isEmpty, "all-zero relevance cannot be graded")
  }

  test("aucScore: hand-computed AUC with midrank ties, degenerate class is NULL") {
    import graft.ops.Profile
    // scores/labels: perfect separation -> AUC 1; with one tie pair -> midrank math
    val perfect = Seq((0.1, false), (0.2, false), (0.8, true), (0.9, true))
      .toDF("s", "y")
    val p = Profile.aucScore(perfect, col("s"), col("y"))
      .as[(Long, Long, Option[Double])].collect().head
    assert(p == ((2L, 2L, Some(1.0))))
    // tie across classes at 0.5: pairs = 2x2, wins = 3, ties = 1 -> AUC = 3.5/4
    val tied = Seq((0.1, false), (0.5, false), (0.5, true), (0.9, true))
      .toDF("s", "y")
    val t = Profile.aucScore(tied, col("s"), col("y"))
      .as[(Long, Long, Option[Double])].collect().head
    assert(t == ((2L, 2L, Some(0.875))), s"midrank tie: $t")
    val oneClass = Seq((0.1, true), (0.9, true)).toDF("s", "y")
    assert(Profile.aucScore(oneClass, col("s"), col("y"))
      .as[(Long, Long, Option[Double])].collect().head._3.isEmpty)
  }

  test("passAtK: hand-computed estimator incl. saturation and undefined edges") {
    import graft.ops.Profile
    // task 1: n=4, c=1, k=2 -> 1 - C(3,2)/C(4,2) = 1 - 3/6 = 0.5
    // task 2: n=3, c=2, k=2 -> n-c=1 < k -> exactly 1
    // task 3: n=1, c=0, k=2 -> n < k -> NULL
    // task 4: n=2, c=0, k=2 -> pass 0 exactly
    val df = Seq(
      (1L, true), (1L, false), (1L, false), (1L, false),
      (2L, true), (2L, true), (2L, false),
      (3L, false),
      (4L, false), (4L, false)).toDF("task", "ok")
    val got = Profile.passAtK(df, col("task"), col("ok"), k = 2)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 1L, Some(0.5))))
    assert(got(2L) == ((2L, 3L, 2L, Some(1.0))))
    assert(got(3L) == ((3L, 1L, 0L, None)))
    assert(got(4L) == ((4L, 2L, 0L, Some(0.0))))
  }

  test("chao1Richness: hand-computed spectrum; empty corpus yields zero row with NULLs") {
    import graft.ops.TextOps
    // counts x:2 y:1 z:1 -> N=4 V=3 f1=2 f2=1;
    // chao1 = 3 + 2*1/(2*2) = 3.5, coverage = 1 - 2/4 = 0.5
    val df = Seq(Seq("x", "x", "y"), Seq("z")).toDF("t")
    val got = TextOps.chao1Richness(df, col("t"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(got == ((4L, 3L, 2L, 1L, Some(3.5), Some(0.5))), s"$got")
    val empty = Seq(Seq.empty[String]).toDF("t")
    val e = TextOps.chao1Richness(empty, col("t"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(e == ((0L, 0L, 0L, 0L, None, None)), s"$e")
  }

  test("fleissKappa: hand-computed multi-rater agreement; trims to n, drops short items") {
    import graft.ops.Checks
    // kept: item 1 -> [A,A] (3rd rating trimmed), item 2 -> [A,B];
    // item 3 has 1 < n ratings -> dropped. S=6, Pbar=0.5,
    // cA=3 cB=1 -> Pe=0.5625+0.0625=0.625, kappa=(-0.125)/0.375=-1/3
    val df = Seq((1L, "A", 1L), (1L, "A", 2L), (1L, "B", 3L),
      (2L, "A", 1L), (2L, "B", 2L), (3L, "A", 1L)).toDF("it", "cat", "o")
    val got = Checks.fleissKappa(df, col("it"), col("cat"), col("o"), n = 2)
      .as[(Long, Double, Double, Double)].collect().head
    assert(got == ((2L, 0.5, 0.625, -0.333333)), s"$got")
    // all ratings one category: Pe = 1 -> kappa defined as 0
    val const = Seq((1L, "A", 1L), (1L, "A", 2L), (2L, "A", 1L), (2L, "A", 2L))
      .toDF("it", "cat", "o")
    val k0 = Checks.fleissKappa(const, col("it"), col("cat"), col("o"), n = 2)
      .as[(Long, Double, Double, Double)].collect().head
    assert(k0 == ((2L, 1.0, 1.0, 0.0)), s"$k0")
  }

  test("conformalThreshold: finite-sample k-th order statistic, ties, undefined when k>n") {
    import graft.ops.Profile
    // A: 1..10, alpha=0.1 -> k=ceil(11*0.9)=10 -> qhat=10
    // B: [1,1,2], alpha=0.1 -> k=ceil(4*0.9)=4 > 3 -> NULL
    val df = ((1 to 10).map(i => ("A", i.toDouble)) ++
      Seq(("B", 1.0), ("B", 1.0), ("B", 2.0))).toDF("g", "s")
    val got = Profile.conformalThreshold(df, col("g"), col("s"), alpha = 0.1)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 10L, 10L, Some(10.0))))
    assert(got("B") == (("B", 3L, 4L, None)))
    // alpha=0.5 with ties: B's k=ceil(4*0.5)=2, cum at s=1 is 2 -> qhat=1
    val half = Profile.conformalThreshold(df, col("g"), col("s"), alpha = 0.5)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(half("A") == (("A", 10L, 6L, Some(6.0))))
    assert(half("B") == (("B", 3L, 2L, Some(1.0))))
  }

  test("bradleyTerry: hand-computed MM round; transitive dominance orders thetas") {
    import graft.ops.Profile
    // 2 models, n=3 comparisons, model 0 wins 2: round 1 gives
    // D = floor8(3/2) = 1.5 for both, t0 = floor8(2/1.5) = 1.33333333,
    // t1 = floor8(1/1.5) = 0.66666667, sum = 2 -> thetas unchanged by
    // the mean-1 renormalization
    val two = Seq((0L, 1L, true), (0L, 1L, true), (0L, 1L, false))
      .toDF("a", "b", "aw")
    val got = Profile.bradleyTerry(two, col("a"), col("b"), col("aw"), iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 1.33333333, 1L -> 0.66666667))
    // 0 beats 1 beats 2 (with some noise the other way): fitted
    // strengths must recover the transitive order, mean ~1
    val rows = Seq.fill(8)((0L, 1L, true)) ++ Seq.fill(2)((0L, 1L, false)) ++
      Seq.fill(8)((1L, 2L, true)) ++ Seq.fill(2)((1L, 2L, false)) ++
      Seq.fill(9)((0L, 2L, true)) ++ Seq.fill(1)((0L, 2L, false))
    val fit = Profile.bradleyTerry(rows.toDF("a", "b", "aw"),
      col("a"), col("b"), col("aw")).as[(Long, Double)].collect().toMap
    assert(fit(0L) > fit(1L) && fit(1L) > fit(2L), s"order: $fit")
    assert(math.abs(fit.values.sum / 3 - 1.0) < 0.01, s"mean-1: $fit")
    // self-comparisons are dropped; a model that never wins pins to 0
    val degen = Seq((3L, 3L, true), (4L, 5L, true), (4L, 5L, true))
      .toDF("a", "b", "aw")
    val d = Profile.bradleyTerry(degen, col("a"), col("b"), col("aw"))
      .as[(Long, Double)].collect().toMap
    assert(!d.contains(3L) && d(5L) == 0.0 && d(4L) > 0.0, s"degen: $d")
  }

  test("calibrationBins: quantized means, exact rates, 1.0 folds into the top bin") {
    import graft.ops.Profile
    val df = Seq((0.05, false), (0.15, true), (0.15, false), (1.0, true))
      .toDF("s", "y")
    val got = Profile.calibrationBins(df, col("s"), col("y"), bins = 10)
      .as[(Int, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(0) == ((0, 1L, 0.05, 0.0)))
    assert(got(1) == ((1, 2L, 0.15, 0.5)))
    assert(got(9) == ((9, 1L, 1.0, 1.0)), "score exactly 1.0 lands in bin 9")
  }

  test("srmCheck: hand-computed chi2; balanced passes, 40/60 at n=1000 flags") {
    import graft.ops.EventAnalytics
    // 400/600 vs 500/500: chi2 = 100^2/500 * 2 = 40 -> flagged
    val biased = (1 to 1000).map(i => Tuple1(i <= 400)).toDF("t")
    val got = EventAnalytics.srmCheck(biased, col("t"))
      .as[(Long, Long, Option[Double], Option[Boolean])].collect().head
    assert(got == ((400L, 600L, Some(40.0), Some(true))), s"$got")
    // 501/499: chi2 = 1/500*2 = 0.004 -> clean
    val ok = (1 to 1000).map(i => Tuple1(i <= 501)).toDF("t")
    val k = EventAnalytics.srmCheck(ok, col("t"))
      .as[(Long, Long, Option[Double], Option[Boolean])].collect().head
    assert(k == ((501L, 499L, Some(0.004), Some(false))), s"$k")
    // 90/10 design honored at 90/10 observed -> chi2 exactly 0
    val designed = (1 to 100).map(i => Tuple1(i <= 90)).toDF("t")
    val d = EventAnalytics.srmCheck(designed, col("t"), treatShare = 0.9)
      .as[(Long, Long, Option[Double], Option[Boolean])].collect().head
    assert(d == ((90L, 10L, Some(0.0), Some(false))), s"$d")
  }

  test("cuped: hand-computed theta/effects; constant covariate degrades to raw-only") {
    import graft.ops.EventAnalytics
    // ctrl (1,2),(2,4); treat (3,7),(4,9): pooled cov=48 vx=20 -> theta=2.4,
    // dy=5 dx=2 -> cuped = 5 - 4.8 = 0.2; rho2 = 2304/2320 -> 0.993103
    val u = Seq((1L, 2L, false), (2L, 4L, false), (3L, 7L, true), (4L, 9L, true))
      .toDF("x", "y", "t")
    val got = EventAnalytics.cuped(u, col("x"), col("y"), col("t"))
      .as[(Long, Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got == ((2L, 2L, Some(2.4), Some(5.0), Some(0.2), Some(0.993103))),
      s"$got")
    // var(x)=0: theta/cuped/rho2 NULL, raw effect still reported
    val const = Seq((5L, 2L, false), (5L, 4L, true)).toDF("x", "y", "t")
    val d = EventAnalytics.cuped(const, col("x"), col("y"), col("t"))
      .as[(Long, Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(d == ((1L, 1L, None, Some(2.0), None, None)), s"$d")
  }

  test("retentionMatrix: per-offset membership on one cohort pass") {
    import graft.ops.EventAnalytics
    val ev = Seq(("u1", "2024-01-01"), ("u1", "2024-01-02"), ("u1", "2024-01-08"),
      ("u2", "2024-01-01"), ("u3", "2024-01-02"), ("u3", "2024-01-03"))
      .toDF("user_id", "d")
      .select(col("user_id"), concat(col("d"), lit(" 09:00:00")).cast("timestamp").as("ts"))
    val got = EventAnalytics.retentionMatrix(ev, col("user_id"), col("ts"), Seq(1, 7))
      .as[(java.sql.Date, Int, Long, Long)].collect()
      .map(r => (r._1.toString, r._2) -> (r._3, r._4)).toMap
    assert(got(("2024-01-01", 1)) == ((2L, 1L)), "u1 back next day, u2 not")
    assert(got(("2024-01-01", 7)) == ((2L, 1L)), "u1 back on day 8")
    assert(got(("2024-01-02", 1)) == ((1L, 1L)) && got(("2024-01-02", 7)) == ((1L, 0L)))
  }

  test("referentialOrphans: dimension-sized parent plans as a broadcast anti-join") {
    import graft.ops.Checks
    val child = spark.read.parquet(s"$sf/orders.parquet")
    val parent = spark.read.parquet(s"$sf/customer.parquet")
    val plan = Checks.referentialOrphans(child, col("o_custkey"),
      parent, col("c_custkey")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"child side must not shuffle for a dimension-table FK check:\n$plan")
  }

  test("referentialOrphans: anti-join keeps unmatched and NULL foreign keys") {
    import graft.ops.Checks
    val child = Seq((1L, Option(10L)), (2L, Option(20L)), (3L, None))
      .toDF("id", "fk")
    val parent = Seq(10L).toDF("pk")
    val got = Checks.referentialOrphans(child, col("fk"), parent, col("pk"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), s"row 2 (no parent) and row 3 (NULL fk): $got")
  }

  test("benfordProfile: string-extracted first digits, sub-1 values, Benford expectations") {
    import graft.ops.Profile
    val df = Seq("123.45", "0.072", "-9000.00", "123.00", "0.00")
      .toDF("s").select(col("s").cast("decimal(10,3)").as("v"))
    val got = Profile.benfordProfile(df, col("v"))
      .as[(Int, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1)._2 == 2, "two values lead with 1")
    assert(got(7)._2 == 1, "0.072 leads with 7, not 0")
    assert(got(9)._2 == 1, "sign ignored")
    assert(!got.contains(0) && got.values.map(_._2).sum == 4, "exact zero drops")
    assert(got(1)._4 == 0.30103, "expected share is log10(2) floored at 6 dp")
    assert(math.abs(got(1)._3 - 0.5) < 1e-9, "observed share 2/4")
  }

  test("userGrowthCurve: first-seen counts and exact running distinct total") {
    import graft.ops.EventAnalytics
    val ev = Seq(("u1", "2024-01-01 09:00:00"), ("u1", "2024-01-03 09:00:00"),
      ("u2", "2024-01-01 10:00:00"), ("u3", "2024-01-03 08:00:00"))
      .toDF("user_id", "t").select(col("user_id"), col("t").cast("timestamp").as("ts"))
    val got = EventAnalytics.userGrowthCurve(ev, col("user_id"), col("ts"))
      .as[(java.sql.Date, Long, Long)].collect().map(r => r._1.toString -> (r._2, r._3)).toMap
    assert(got == Map("2024-01-01" -> ((2L, 2L)), "2024-01-03" -> ((1L, 3L))),
      s"returning u1 on day 3 must not count again: $got")
  }

  test("principalComponent: converges to the analytic axis, eigenvalue matches variance") {
    import graft.ops.Similarity
    // all variance on axis 0: cov = [[8/3, 0], [0, 0]] -> PC (1, 0), lambda = 8/3
    val axis = Seq((1L, Seq(2.0f, 0.0f)), (2L, Seq(-2.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.principalComponent(axis, col("vec_id"),
        col("embedding"), iterations = 8)
      .as[(Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(math.abs(got(0)._2 - 1.0) < 1e-6 && math.abs(got(1)._2) < 1e-6,
      s"PC must align with axis 0: $got")
    assert(math.abs(got(0)._3 - 8.0 / 3.0) < 1e-5,
      s"eigenvalue must match the axis variance: ${got(0)._3}")
    // diagonal cloud: PC = (1/sqrt2, 1/sqrt2), sign pinned positive by v0
    val diag = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(3.0f, 3.0f)),
      (3L, Seq(-1.0f, -1.0f))).toDF("vec_id", "embedding")
    val g2 = Similarity.principalComponent(diag, col("vec_id"),
        col("embedding"), iterations = 8)
      .as[(Int, Double, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(math.abs(g2(0) - math.sqrt(0.5)) < 1e-6 &&
      math.abs(g2(1) - math.sqrt(0.5)) < 1e-6, s"diagonal PC: $g2")
  }

  test("lexicalDiversity: exact TTR and hapax fraction on a hand fixture") {
    import graft.ops.TextOps
    // slice A: tokens (a a b c) -> 4 tokens, 3 types (a x2, b, c), 2 hapax
    val df = Seq(("A", "a a b"), ("A", "c")).toDF("src", "text")
    val got = TextOps.lexicalDiversity(df, col("src"), col("text"))
      .as[(String, Long, Long, Long, Double, Double)].collect().head
    assert(got == (("A", 4L, 3L, 2L, 0.75, 0.666667)), s"got $got")
  }

  test("jsDivergenceDrift: 0 for identical distributions, 1 for disjoint vocabularies") {
    import graft.ops.TextOps
    val same = Seq(("A", "x y"), ("B", "x y")).toDF("src", "text")
    val s = TextOps.jsDivergenceDrift(same, col("src"), col("text"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(s("A") == 0.0 && s("B") == 0.0, s"identical slices must JSD 0: $s")
    val disj = Seq(("A", "x x"), ("B", "y y")).toDF("src", "text")
    val d = TextOps.jsDivergenceDrift(disj, col("src"), col("text"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(d("A") == 1.0 && d("B") == 1.0, s"disjoint vocabularies must JSD 1: $d")
  }

  test("embeddingDimStats: exact hand-computed moments per dimension") {
    import graft.ops.Similarity
    val df = Seq((1L, Seq(1.0f, -1.0f)), (2L, Seq(3.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingDimStats(df, col("embedding"))
      .as[(Int, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0) == ((0, 2L, 2.0, 1.0, 1.0, 3.0)))
    assert(got(1) == ((1, 2L, -1.0, 0.0, -1.0, -1.0)), "dead dim: var exactly 0")
  }

  test("kaplanMeier: textbook product-limit values, censoring holds risk set, wipe pins 0") {
    import graft.ops.EventAnalytics
    // subjects: die@1, die@2, censored@2, die@3
    // t=1: n=4 d=1 S=0.75 | t=2: n=3 d=1 c=1 S=0.5 | t=3: n=1 d=1 S=0 (wipe)
    val subjects = Seq((1L, true), (2L, true), (2L, false), (3L, true))
      .toDF("dur", "obs")
    val got = EventAnalytics.kaplanMeier(subjects, col("dur"), col("obs"))
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 1L, 0L, 0.25, 0.75)))
    assert(got(2L) == ((2L, 3L, 1L, 1L, 0.333333, 0.5)))
    assert(got(3L) == ((3L, 1L, 1L, 0L, 1.0, 0.0)),
      "risk set wiped at t=3: survival is exactly 0, no ln(0)")
  }

  test("kCore: peel cascades (degree filter alone is wrong), path graph empties") {
    import graft.ops.Graph
    // triangle {1,2,3} + pendant 4: k=2 drops 4 in round 1; the triangle
    // survives at core_deg 2. Duplicate + reversed edges must not inflate.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L), (2L, 1L))
      .toDF("s", "d")
    val got = Graph.kCore(tri, col("s"), col("d"), k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
    // path a-b-c-d at k=2: endpoints peel, then the middle — a one-pass
    // degree filter would keep b and c (degree 2); the fixpoint is empty
    val path = Seq((10L, 11L), (11L, 12L), (12L, 13L)).toDF("s", "d")
    assert(Graph.kCore(path, col("s"), col("d"), k = 2).count() == 0,
      "cascading peel must empty a path graph")
  }

  test("mannKendall: textbook S and tie-corrected variance, constant series yields NULL z") {
    import graft.ops.EventAnalytics
    // daily volumes (1, 2, 3): S = 3, no ties -> var_num = 3*2*11 = 66,
    // z = (3-1)/sqrt(66/18) = 1.04446...
    val up = Seq("2024-01-01 10:00:00", "2024-01-02 10:00:00",
      "2024-01-02 11:00:00", "2024-01-03 10:00:00", "2024-01-03 11:00:00",
      "2024-01-03 12:00:00").toDF("t").select(col("t").cast("timestamp").as("ts"))
    val r = EventAnalytics.mannKendallDailyTrend(up, col("ts"))
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(r._1 == 3 && r._2 == 3 && r._3 == 66)
    assert(math.abs(r._4.get - 1.044465) < 1e-6, s"z6 was ${r._4}")
    // gap day densifies to zero: days 1 and 3 -> v = (1, 0, 2), S = sign(0-1)+sign(2-1)+sign(2-0) = 1
    val gap = Seq("2024-01-01 10:00:00", "2024-01-03 10:00:00",
      "2024-01-03 11:00:00").toDF("t").select(col("t").cast("timestamp").as("ts"))
    assert(EventAnalytics.mannKendallDailyTrend(gap, col("ts"))
      .as[(Long, Long, Long, Option[Double])].collect().head._2 == 1)
    // constant series: one tie class of n -> var_num = 0 -> z NULL
    val const = Seq("2024-01-01 10:00:00", "2024-01-02 10:00:00")
      .toDF("t").select(col("t").cast("timestamp").as("ts"))
    val c = EventAnalytics.mannKendallDailyTrend(const, col("ts"))
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(c._2 == 0 && c._3 == 0 && c._4.isEmpty)
  }

  test("queryLikelihood: matches the closed-form score, unseen terms drop") {
    import graft.ops.Retrieval
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // |C| = 5, cf(a) = 3; score(d) = ln((tf + mu*3/5)/(dl + mu)), mu = 1
    val got = Retrieval.queryLikelihoodScores(docs, col("doc_id"), col("text"),
        Seq("a"), mu = 1.0).as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - math.log((2 + 0.6) / 4.0)) < 3e-4, s"${got(1L)}")
    assert(math.abs(got(2L) - math.log((1 + 0.6) / 3.0)) < 3e-4, s"${got(2L)}")
    assert(got(1L) > got(2L), "higher tf on same-ish dl must rank higher")
    val withUnseen = Retrieval.queryLikelihoodScores(docs, col("doc_id"),
      col("text"), Seq("a", "zzz_not_in_corpus"), mu = 1.0)
      .as[(Long, Double)].collect().toMap
    assert(withUnseen == got, "corpus-unseen query terms drop without a trace")
  }

  test("tCloseness: exact ordered EMD on a hand-computed fixture") {
    import graft.ops.Privacy
    // global: v0 x3, v1 x2 (N=5, m=2). Cell A = {0,0}: EMD = |2*5-3*2| / (2*5*1) = 0.4
    // Cell B = {0,1,1}: |1*5-3*3| / (3*5*1) = 4/15 = 0.266667
    val df = Seq(("A", 0), ("A", 0), ("B", 0), ("B", 1), ("B", 1))
      .toDF("cell", "v")
    val all = Privacy.tClosenessReport(df, Seq(col("cell")), col("v"), t = 0.1)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(all("A") == (("A", 2L, 0.4)))
    assert(all("B") == (("B", 3L, 0.266667)))
    val strict = Privacy.tClosenessReport(df, Seq(col("cell")), col("v"), t = 0.3)
    assert(strict.as[(String, Long, Double)].collect().toSeq == Seq(("A", 2L, 0.4)),
      "threshold filters the compliant cell")
  }

  test("mixByTokenBudget: rates derive from availability, clamp at 1, unbudgeted sources drop") {
    import graft.ops.Pipeline
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(4))).as("source"), lit(100L).as("ntok"))
    def mix(d: org.apache.spark.sql.DataFrame) =
      Pipeline.mixByTokenBudget(d, col("doc_id"), col("source"), col("ntok"),
        Map("s0" -> 100000L, "s1" -> 12500L, "s2" -> 0L), "t")
    val out = mix(df)
    val counts = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts("s0") == 250, "budget above availability keeps everything")
    assert(!counts.contains("s2"), "zero budget drops the source")
    assert(!counts.contains("s3"), "unbudgeted source drops")
    assert(math.abs(counts("s1") - 125) <= 25,
      s"half budget keeps ~half the docs: ${counts.get("s1")}")
    // partition-layout independence: the keep set is a pure function of id
    val a = out.select("doc_id").as[Long].collect().sorted.toSeq
    val b = mix(df.repartition(7)).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("semDedup: planted near-dups drop to their min id, singletons survive, clusters bound pairs") {
    import graft.ops.Dedup
    // clustered corpus + an exact copy of every 10th vector at id+10000
    // and a tiny-perturbation copy of every 25th at id+20000
    val ce = OpsQueries.clusteredEmb(spark, n = 500, dim = 16, centers = 10)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val dup = ce.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val near = ce.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.0005).as("embedding"))
    val universe = ce.union(dup).union(near)
    val kept = Dedup.semDedup(universe, col("vec_id"), col("embedding"),
      nClusters = 10, threshold = 0.999).select("vec_id").as[Long].collect().toSet
    // scaling a vector preserves cosine exactly, so both planted families
    // pair with their original at cosine ~1 ≥ 0.999; natural same-center
    // pairs sit near 0.94 and must NOT merge at this threshold
    assert(kept == ce.select("vec_id").as[Long].collect().toSet,
      "survivors must be exactly the original ids")
  }

  test("PQ index round-trips through parquet: loaded index answers identically") {
    import graft.ops.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.filter(col("vec_id") =!= 0)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toSeq
    val idx = Similarity.buildPq(corpus, col("vec_id"), col("embedding"), m = 8, kCode = 16)
    val dir = "/root/repo/target/pq_roundtrip"
    Similarity.savePq(idx, dir)
    val loaded = Similarity.loadPq(spark, dir)
    assert(loaded.dsub == idx.dsub && loaded.kCode == idx.kCode)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq, "codebooks must round-trip exactly")
    val a = idx.topK(qv, k = 5, rerank = 100).collect().map(_.toSeq).toSeq
    val b = loaded.topK(qv, k = 5, rerank = 100).collect().map(_.toSeq).toSeq
    assert(a == b, "a loaded index must answer bit-identically to the built one")
  }

  test("PqEncode/PqAdc: ragged and corrupt inputs null out; ADC equals explicit table sum") {
    import graft.functions.VectorFunctions.{pqAdc, pqEncode}
    // 2 subspaces of 2 dims, 2 centroids each: codebook chosen so codes
    // are unambiguous; ADC must equal the hand-computed lookup sum
    val cb = Seq(0.0, 0.0, 1.0, 1.0, /* s0: c0=(0,0) c1=(1,1) */
      2.0, 2.0, 3.0, 3.0 /* s1: c0=(2,2) c1=(3,3) */ )
    val rows = Seq(
      (1L, Seq(0.1, -0.1, 2.9, 3.2)), // codes (0, 1)
      (2L, Seq(1.2, 0.8, 1.9, 2.1)), // codes (1, 0)
      (3L, Seq(1.0, 1.0, 1.0))) // ragged: 3 dims for m·dsub=4 → NULL
      .toDF("id", "v")
    val enc = rows.select(col("id"), pqEncode(col("v"), cb, 2, 2).as("codes"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Int]].toSeq)).toMap
    assert(enc(1L).contains(Seq(0, 1)))
    assert(enc(2L).contains(Seq(1, 0)))
    assert(enc(3L).isEmpty, "ragged vector must encode to NULL")
    val lut = Seq(10.0, 20.0, 30.0, 40.0) // s0: [10,20], s1: [30,40]
    val adc = Seq((1L, Seq(0, 1)), (2L, Seq(1, 0)), (3L, Seq(0, 5)))
      .toDF("id", "codes")
      .select(col("id"), pqAdc(col("codes"), lut, 2).as("adc"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(adc(1L).contains(10.0 + 40.0))
    assert(adc(2L).contains(20.0 + 30.0))
    assert(adc(3L).isEmpty, "out-of-range code must score NULL, not read a neighbor's entry")
  }

  test("compressionRatio: deflate sizes match a reference deflater; ratios order by entropy") {
    import graft.functions.HashFunctions.deflateSize
    // reference raw-deflate byte count, computed with the JDK API directly
    def ref(s: String): Int = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](1 << 16)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      d.end(); total
    }
    val rep = "spam ham " * 200
    val salad = (1 to 400).map(i => s"w${i * 2654435761L % 997}").mkString(" ")
    val rows = Seq((1L, rep), (2L, salad), (3L, ""))
      .toDF("id", "t")
      .select(col("id"), deflateSize(col("t")).as("dsz"),
        TextOps.compressionRatio(col("t")).as("ratio"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(rows(1L)._1 == ref(rep), "expression must equal the JDK deflater")
    assert(rows(2L)._1 == ref(salad))
    assert(rows(3L)._2 == 0.0, "empty text ratio is 0 by definition")
    assert(rows(1L)._2 < 0.1, s"repetitive text must compress hard: ${rows(1L)._2}")
    assert(rows(1L)._2 < rows(2L)._2, "higher-entropy text must compress less")
    assert(rows(2L)._2 > 0.0 && rows(2L)._2 <= 1.1)
  }

  test("sketches: HLL term cardinality tracks exact; GK quantiles exact at full accuracy") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (exact, approx) = TextOps.distinctTermStats(docs, col("text"))
      .as[(Long, Long)].head()
    assert(exact > 0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05)
    // determinism: a sketch is only gate-able because it has no RNG
    val again = TextOps.distinctTermStats(docs.repartition(7), col("text"))
      .as[(Long, Long)].head()._2
    assert(again == approx)
    val q = TextOps.lengthQuantiles(docs, col("text"), Seq(0.5, 0.9, 0.99))
      .as[(Seq[Double], Seq[Double])].head()
    // GK at accuracy >> n returns true elements at most one rank off;
    // exact interpolated quantiles must bracket them tightly
    q._1.zip(q._2).foreach { case (ex, ap) =>
      assert(math.abs(ex - ap) <= math.max(ex * 0.1, 1.0), s"exact $ex vs approx $ap")
    }
  }

  test("stratifiedSample is deterministic across partitioning and respects rate edges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val once = ids(graft.ops.Pipeline.stratifiedSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.5), 0.2, "s1"))
    val repartitioned = ids(graft.ops.Pipeline.stratifiedSample(docs.repartition(13),
      col("doc_id"), col("lang"), Map("en" -> 0.5), 0.2, "s1"))
    assert(once == repartitioned) // no RNG, no partition-index dependence
    assert(ids(graft.ops.Pipeline.sampleDeterministic(docs, col("doc_id"), 1.0, "s1"))
      == ids(docs))
    assert(graft.ops.Pipeline.sampleDeterministic(docs, col("doc_id"), 0.0, "s1").isEmpty)
    // a different salt draws a different (same-rate) sample
    val other = ids(graft.ops.Pipeline.stratifiedSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.5), 0.2, "s2"))
    assert(other != once)
  }

  test("packByTokenBudget: bucketed scan equals the global window, shards respect budget") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "ntok", "shard").as[(Long, Long, Long)].collect().toSet
    val packed = canon(graft.ops.Pipeline.packByTokenBudget(docs, col("doc_id"),
      TextOps.tokenCount(col("text")), budget = 500, bucketWidth = 32))
    // reference: one global window (what the two-level scan must equal)
    val global = canon(docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("ntok"))
      .withColumn("shard", floor((sum(col("ntok")).over(
        Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("ntok")) / 500).cast("long")))
    assert(packed == global)
    // bucket width must not change the assignment
    val wider = canon(graft.ops.Pipeline.packByTokenBudget(docs, col("doc_id"),
      TextOps.tokenCount(col("text")), budget = 500, bucketWidth = 1L << 20))
    assert(wider == packed)
    // every doc fits its shard: shard totals stay under budget + the one
    // doc that crossed the boundary (greedy-cut invariant)
    val shardTotals = packed.groupBy(_._3).map { case (sh, rows) => sh -> rows.map(_._2).sum }
    val maxDoc = packed.map(_._2).max
    assert(shardTotals.values.forall(_ <= 500 + maxDoc))
  }

  test("incremental MinHash: base pairs + arrival probe partition the full pair set") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val base = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val arrivals = d.filter(pmod(col("doc_id"), lit(5)) === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = pairs(Dedup.minHashNearDups(d, col("doc_id"), col("text"), 3, 0.8))
    val basePairs = pairs(Dedup.minHashNearDups(base, col("doc_id"), col("text"), 3, 0.8))
    val incr = pairs(Dedup.minHashNearDupsIncremental(base, arrivals,
      col("doc_id"), col("text"), 3, 0.8))
    assert((basePairs intersect incr).isEmpty,
      "incremental pairs must all involve an arrival")
    assert(incr.forall { case (a, b) => a % 5 == 0 || b % 5 == 0 })
    assert((basePairs union incr) == full, "partition must reconstruct the full run")
    assert(incr.nonEmpty, "fixture must exercise the incremental path")
  }

  test("lshIndexMaintain: maintained index row-identical to from-scratch rebuild") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val baseIdx = Dedup.lshBucketRows(d, col("doc_id"), col("text"), n = 3)
    val ups = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" zz updated v2")).as("text"))
    val era = d.filter(pmod(col("doc_id"), lit(11)) === 0 &&
      pmod(col("doc_id"), lit(5)) =!= 0).select(col("doc_id"))
    val maintained = Dedup.lshIndexMaintain(baseIdx, ups, col("doc_id"),
      col("text"), era, col("doc_id"), n = 3)
    val post = d.filter(!(pmod(col("doc_id"), lit(11)) === 0 &&
        pmod(col("doc_id"), lit(5)) =!= 0))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" zz updated v2")))
          .otherwise(col("text")).as("text"))
    val rebuilt = Dedup.lshBucketRows(post, col("doc_id"), col("text"), n = 3)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "maintained index must equal the from-scratch rebuild as a multiset")
    // erased ids gone from the maintained index, and it is non-trivial
    val sids = maintained.select("sid").distinct()
      .as[Long].collect().toSet
    assert(era.as[Long].collect().toSet.intersect(sids).isEmpty,
      "erased ids must leave the index")
    assert(sids.nonEmpty)
  }

  test("graft_nfc: composes decomposed forms, ASCII passes through, idempotent") {
    import spark.implicits._
    val decomposed = "cafe\u0301"   // e + combining acute (U+0301)
    val composed = "caf\u00e9"       // precomposed é
    val rows = Seq(decomposed, composed, "plain ascii", "")
      .toDF("s")
      .select(col("s"), graft.functions.HashFunctions.nfcNormalize(col("s")).as("n"))
      .as[(String, String)].collect().toMap
    assert(rows(decomposed) == composed)
    assert(rows(composed) == composed)
    assert(rows("plain ascii") == "plain ascii" && rows("") == "")
    // NFC unifies the two encodings for exact dedup
    assert(rows(decomposed) == rows(composed))
  }

  test("funnel: strictly ordered — out-of-order steps do not count") {
    import spark.implicits._
    // u1 completes in order; u2's only view precedes its signup; u3's
    // only purchase precedes its qualifying view
    val ev = Seq(
      (1L, "signup", 1L), (1L, "view", 2L), (1L, "purchase", 3L),
      (2L, "view", 1L), (2L, "signup", 2L), (2L, "purchase", 3L),
      (3L, "signup", 1L), (3L, "purchase", 2L), (3L, "view", 3L)
    ).toDF("u", "et", "t").select(col("u"), col("et"),
      timestamp_micros(col("t")).as("ts"))
    val out = graft.ops.EventAnalytics.funnel(ev, col("u"), col("et"), col("ts"),
        Seq("signup", "view", "purchase"))
      .select("step", "n_users").as[(Int, Long)].collect().toMap
    assert(out == Map(1 -> 3L, 2 -> 2L, 3 -> 1L))
    // one Exchange for all per-user steps: the stacked windows and the
    // per-user aggregate reuse a single hash partitioning by user
    val p = graft.ops.EventAnalytics.funnel(ev, col("u"), col("et"), col("ts"),
      Seq("signup", "view", "purchase")).queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"funnel should shuffle the log once, found $hashEx:\n$p")
  }

  test("labelCentroids: hand-computed means, 4dp-before-sum determinism") {
    import spark.implicits._
    val df = Seq((1, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 4.0f)), (2, Seq(0.5f, 0.25f)))
      .toDF("label", "emb")
    val r = graft.ops.Similarity.labelCentroids(df, col("label"), col("emb"))
      .as[(Int, Int, Double, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(r((1, 0)) == ((2.0, 2L)) && r((1, 1)) == ((3.0, 2L)))
    assert(r((2, 0)) == ((0.5, 1L)) && r((2, 1)) == ((0.25, 1L)))
    // sub-4dp component noise must not leak into the mean: 0.00004999
    // rounds to 0.0 before summing
    val tiny = Seq((9, Seq(0.00004999f))).toDF("label", "emb")
    val t0 = graft.ops.Similarity.labelCentroids(tiny, col("label"), col("emb"))
      .as[(Int, Int, Double, Long)].head()
    assert(t0._3 == 0.0)
  }

  test("dailyTrend: hand-computed OLS on a perfect line and a flat series") {
    import spark.implicits._
    // type a: y = 2x + 3 exactly (days 0..2 → 3,5,7 events); type b flat 4
    val rows = Seq.tabulate(3) { d => ("a", d, 3 + 2 * d) } ++ Seq(("b", 0, 4), ("b", 1, 4))
    val ev = rows.flatMap { case (ty, d, cnt) =>
      (1 to cnt).map(i => (ty, f"2024-01-${d + 1}%02d 00:0$i:00"))
    }.toDF("ty", "t").select(col("ty"), col("t").cast("timestamp").as("t"))
    val r = graft.ops.EventAnalytics.dailyTrend(ev, col("t"), col("ty"))
      .as[(String, Long, Double, Double)].collect().map(t => t._1 -> t).toMap
    assert(r("a") == (("a", 3L, 2.0, 3.0)))
    assert(r("b") == (("b", 2L, 0.0, 4.0)))
  }

  test("ewmaDaily: coefficients weight the lag chain, missing history is zero") {
    import spark.implicits._
    val ev = Seq(("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:01:00"),
      ("a", "2024-01-02 00:00:00"))
      .toDF("ty", "t").select(col("ty"), col("t").cast("timestamp").as("t"))
    val r = graft.ops.EventAnalytics.ewmaDaily(ev, col("t"), col("ty"),
        alpha = 0.5, horizon = 3)
      .select(col("ewma")).as[Double].collect().sorted.toSeq
    // day1 y=2: 0.5*2 = 1.0; day2 y=1: 0.5*1 + 0.25*2 = 1.0
    assert(r == Seq(1.0, 1.0))
    val coefs = graft.ops.EventAnalytics.ewmaCoefs(0.5, 3)
    assert(coefs == Seq(0.5, 0.25, 0.125))
  }

  test("chi2Independence: hand-computed 2x2 table") {
    import spark.implicits._
    // cells: (x,p)=30 (x,q)=10 (y,p)=10 (y,q)=30 → every expected = 20,
    // every contribution = (10)^2/20 = 5, chi2 = 20, dof = 1
    val rows = Seq(("x", "p", 30), ("x", "q", 10), ("y", "p", 10), ("y", "q", 30))
      .flatMap { case (a, b, n) => Seq.fill(n)((a, b)) }
    val r = graft.ops.Profile.chi2Independence(
        rows.toDF("a", "b"), col("a"), col("b"))
      .select(col("a"), col("b"), col("obs"), col("dof"), col("exp6"),
        col("contrib6"), col("chi2").cast("double"))
      .as[(String, String, Long, Long, Double, Double, Double)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    assert(r.size == 4)
    assert(r.forall(t => t._4 == 1L && t._5 == 20.0 && t._6 == 5.0 && t._7 == 20.0))
    assert(r.map(_._3) == Seq(30L, 10L, 10L, 30L))
  }

  test("cusumShift: densified gap day counts as zero; alarm fires past the threshold") {
    import spark.implicits._
    // days 1..3 with counts 2, (silent), 4: n=3, total=6 → scaled prefix
    // P' = 0, −6, 0; running-min clamp gives S' = 0, 0, 6; h=1 ⇒ only
    // the last day alarms (6 > 1·3)
    val ev = (Seq.fill(2)("2024-01-01 08:00:00") ++ Seq.fill(4)("2024-01-03 08:00:00"))
      .map(("a", _)).toDF("ty", "t")
      .select(col("ty"), col("t").cast("timestamp").as("t"))
    val r = graft.ops.EventAnalytics.cusumShift(ev, col("t"), col("ty"), k = 0L, h = 1L)
      .select(col("day").cast("string"), col("x"), col("s_scaled"), col("alarm"))
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      ("2024-01-01", 2L, 0L, false),
      ("2024-01-02", 0L, 0L, false),
      ("2024-01-03", 4L, 6L, true)))
  }

  test("theilSenDailyTrend: two-middle average on even pairs; outlier-robust median") {
    import spark.implicits._
    // daily grid v = 1, 0 (gap), 2, 5 → 6 pairwise slopes sorted
    // (-1, 0.5, 4/3, 2, 2.5, 3); even count averages the middles:
    // (4/3 + 2)/2 = 5/3 → 1.666667 at 6 dp
    val ev = (Seq.fill(1)("2024-01-01") ++ Seq.fill(2)("2024-01-03") ++
        Seq.fill(5)("2024-01-04"))
      .map(d => s"$d 08:00:00").toDF("t")
      .select(col("t").cast("timestamp").as("t"))
    val r = graft.ops.EventAnalytics.theilSenDailyTrend(ev, col("t"))
      .as[(Long, Long, Double)].head()
    assert(r == ((4L, 6L, 1.666667)))
    // perfect line 1,2,3,4 plus one 100-event spike day: 6 of 10 pairwise
    // slopes are exactly 1.0 and both middle ranks land inside that tie
    // class — the median ignores the spike entirely (OLS would not)
    val ev2 = (1 to 4).flatMap(d => Seq.fill(d)(f"2024-02-0$d%d 08:00:00"))
      .++(Seq.fill(100)("2024-02-05 08:00:00")).toDF("t")
      .select(col("t").cast("timestamp").as("t"))
    val r2 = graft.ops.EventAnalytics.theilSenDailyTrend(ev2, col("t"))
      .as[(Long, Long, Double)].head()
    assert(r2 == ((5L, 10L, 1.0)))
  }

  test("interRaterKappa: textbook 2x2 cells; degenerate constant raters define 0") {
    import spark.implicits._
    // cells pp=20 pn=5 np=10 nn=15: po=0.7, pe=0.5*0.6+0.5*0.4=0.5,
    // kappa=(0.7-0.5)/0.5=0.4
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false))
    val r = graft.ops.Checks.interRaterKappa(
        rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].head()
    assert(r == ((50L, 20L, 5L, 10L, 15L, 0.7, 0.5, 0.4)))
    // both raters constantly true: pe = 1, kappa defined as 0
    val const = graft.ops.Checks.interRaterKappa(
        Seq.fill(3)((true, true)).toDF("a", "b"), col("a"), col("b"))
      .select(col("pe6"), col("kappa6")).as[(Double, Double)].head()
    assert(const == ((1.0, 0.0)))
  }

  test("fieldEntropy: uniform=log2(k) bits, constant=0, skewed hand value; nulls count") {
    import spark.implicits._
    val df = Seq(
      ("a", "x", "m"), ("b", "x", "m"), ("c", "x", "n"), ("d", "x", null))
      .toDF("u4", "konst", "mix")
    val r = graft.ops.Profile.fieldEntropy(df, Seq(
        "u4" -> col("u4"), "konst" -> col("konst"), "mix" -> col("mix")))
      .as[(String, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r("u4") == (("u4", 4L, 4L, 2.0)))     // uniform over 4 → 2 bits
    assert(r("konst") == (("konst", 4L, 1L, 0.0)))
    // mix: m=2/4, n=1/4, NULL=1/4 → 0.5 + 0.5 + 0.5 = 1.5 bits
    assert(r("mix") == (("mix", 4L, 3L, 1.5)))
  }

  test("madOutliers: spike day flags, neighbors don't; constant series has null score") {
    import spark.implicits._
    // daily v = 1,2,100,2,1 → med 2, absdev 1,0,98,0,1, mad 1 → only the
    // spike day's score 98 clears the 3.5 cutoff
    val counts = Seq(1, 2, 100, 2, 1)
    val ev = counts.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("a", f"2024-03-0${d + 1}%d 12:00:00")) } ++
      Seq(("b", "2024-03-01 00:00:00"), ("b", "2024-03-02 00:00:00"),
        ("b", "2024-03-03 00:00:00"), ("b", "2024-03-04 00:00:00"),
        ("b", "2024-03-05 00:00:00"))
    val r = graft.ops.EventAnalytics.madOutliers(
        ev.toDF("ty", "t").select(col("ty"), col("t").cast("timestamp").as("t")),
        col("t"), col("ty"))
      .select(col("etype"), col("day").cast("string"), col("v"),
        col("absdev"), col("score6"), col("outlier"))
      .as[(String, String, Long, Double, Option[Double], Boolean)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    val a = r.filter(_._1 == "a")
    assert(a.map(_._3) == Seq(1L, 2L, 100L, 2L, 1L))
    assert(a.map(_._4) == Seq(1.0, 0.0, 98.0, 0.0, 1.0))
    assert(a.map(_._6) == Seq(false, false, true, false, false))
    assert(a(2)._5.contains(98.0))
    // constant series: mad=0 → null score, no outliers
    val b = r.filter(_._1 == "b")
    assert(b.forall(t => t._5.isEmpty && !t._6))
  }

  test("epochPlan: over-cap repetition flagged, weight-absent source visible at 0") {
    import spark.implicits._
    // a: 100 tokens available, weight 0.5 of a 1000 budget → 500 target
    // = 5 epochs > cap 4; b: unweighted → target 0, never over
    val df = Seq(("a", 60L), ("a", 40L), ("b", 50L)).toDF("src", "ntok")
    val r = graft.ops.Pipeline.epochPlan(df, col("src"), col("ntok"),
        Map("a" -> 0.5), totalBudget = 1000L, maxEpochs = 4.0)
      .as[(String, Long, Long, Double, Long, Option[Double], Boolean)]
      .collect().map(t => t._1 -> t).toMap
    assert(r("a") == (("a", 2L, 100L, 0.5, 500L, Some(5.0), true)))
    assert(r("b") == (("b", 1L, 50L, 0.0, 0L, Some(0.0), false)))
  }

  test("fertilityProfile: empty docs dilute tokens/doc, chars-per-token exact") {
    import spark.implicits._
    val df = Seq(("x", "aa bb"), ("x", ""), ("y", "hello")).toDF("lang", "text")
    val r = graft.ops.TextOps.fertilityProfile(df, col("lang"), col("text"))
      .as[(String, Long, Long, Long, Double, Option[Double])]
      .collect().map(t => t._1 -> t).toMap
    assert(r("x") == (("x", 2L, 2L, 5L, 1.0, Some(2.5))))
    assert(r("y") == (("y", 1L, 1L, 5L, 1.0, Some(5.0))))
    // all-empty group: 0 tokens → fertility undefined, not a div-by-zero
    val e = graft.ops.TextOps.fertilityProfile(
        Seq(("z", "")).toDF("lang", "text"), col("lang"), col("text"))
      .as[(String, Long, Long, Long, Double, Option[Double])].head()
    assert(e == (("z", 1L, 0L, 0L, 0.0, None)))
  }

  test("groupQuantiles: nearest-rank picks on 1..10; singleton group collapses") {
    import spark.implicits._
    val df = ((1 to 10).map(("g", _)) :+ (("s", 42))).toDF("grp", "v")
    val r = graft.ops.Profile.groupQuantiles(df, col("grp"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    // ceil(10*.5)=5, ceil(10*.9)=9, ceil(10*.99)=10
    assert(r("g") == (("g", 10L, 5L, 9L, 10L)))
    assert(r("s") == (("s", 1L, 42L, 42L, 42L)))
  }

  test("lastTouchAttribution: strictly-prior frame, simultaneous rows, unattributed") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "view", "2024-01-01 00:00:00"),
      (2L, 10L, "purchase", "2024-01-01 00:00:10"),
      (3L, 10L, "view", "2024-01-01 00:00:20"),
      // same ts as the view above, later event id → the view IS prior
      (4L, 10L, "purchase", "2024-01-01 00:00:20"),
      (5L, 20L, "purchase", "2024-01-01 00:00:05") // no prior view
    ).toDF("e", "u", "ty", "t")
      .select(col("e"), col("u"), col("ty"), col("t").cast("timestamp").as("t"))
    val r = graft.ops.EventAnalytics.lastTouchAttribution(ev, col("u"), col("ty"),
        col("t"), col("e"), "purchase", "view")
      .select(col("conv_event_id"), col("gap_s"))
      .collect().map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(r(2L) == Some(10L))
    assert(r(4L) == Some(0L)) // simultaneous view with earlier id attributes
    assert(r(5L) == None)
  }

  test("weightedReservoirPerGroup: k bound, dense ranks, determinism, weight pull") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong * 104729 % 100000, if (i % 2 == 0) "a" else "b",
      if (i == 2) 1000000L else 1L)).toDF("id", "g", "w")
    val s1 = graft.ops.Pipeline.weightedReservoirPerGroup(df, col("id"), col("g"),
      col("w"), k = 3, salt = "t").as[(String, Long, Long, Int)].collect().sortBy(x => (x._1, x._4))
    val s2 = graft.ops.Pipeline.weightedReservoirPerGroup(df, col("id"), col("g"),
      col("w"), k = 3, salt = "t").as[(String, Long, Long, Int)].collect().sortBy(x => (x._1, x._4))
    assert(s1.toSeq == s2.toSeq) // deterministic
    assert(s1.count(_._1 == "a") == 3 && s1.count(_._1 == "b") == 3)
    assert(s1.filter(_._1 == "a").map(_._4).toSeq == Seq(1, 2, 3))
    // the w=1e6 row's priority ≈ u^(1e-6) ≈ 1 → must be in the reservoir
    assert(s1.exists(x => x._3 == 1000000L))
  }

  test("chunkWithOverlap: spans, last-window containment, empty docs drop") {
    import spark.implicits._
    val df = Seq((1L, 100L), (2L, 10L), (3L, 64L), (4L, 65L), (5L, 0L))
      .toDF("id", "n")
    val r = graft.ops.Pipeline.chunkWithOverlap(df, col("id"), col("n"), 64, 48)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._3, c._4)).toSeq).toMap
    assert(r(1L) == Seq((0L, 64L), (48L, 100L)))
    assert(r(2L) == Seq((0L, 10L)))
    assert(r(3L) == Seq((0L, 64L)))   // exact fit: one chunk only
    assert(r(4L) == Seq((0L, 64L), (48L, 65L)))
    assert(!r.contains(5L))
    intercept[IllegalArgumentException] {
      graft.ops.Pipeline.chunkWithOverlap(df, col("id"), col("n"), 32, 48)
    }
  }

  test("nearestCentroidConfusion: separated clusters go diagonal, ties to lower label") {
    import spark.implicits._
    val df = Seq((1, Seq(0.0f, 0.0f)), (1, Seq(0.2f, 0.0f)),
      (2, Seq(1.0f, 1.0f)), (2, Seq(0.8f, 1.0f)),
      // exactly between the two centroids (0.1,0) and (0.9,1): tie-break → 1
      (2, Seq(0.5f, 0.5f)))
      .toDF("label", "emb")
    val r = graft.ops.Similarity.nearestCentroidConfusion(df, col("label"), col("emb"))
      .as[(Int, Int, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(r((1, 1)) == 2L)
    // label-2's centroid (0.7666,0.8333) includes the midpoint row, which
    // pulls it closer to (0.5,0.5) than label-1's (0.1,0) is → all 3 diagonal
    assert(r((2, 2)) == 3L)
    assert(r.values.sum == 5L)
  }

  test("vocabCoverage: hand-computed cutoff, tie order, full coverage") {
    import spark.implicits._
    val df = Seq("a a a b b c").toDF("text")
    // counts a:3 b:2 c:1, total 6; 0.8 → target ceil(4.8)=5 → {a,b}
    val r = graft.ops.TextOps.vocabCoverage(df, col("text"), 0.8)
      .as[(Long, Long, Int, Double)].head()
    assert(r == ((6L, 3L, 2, math.floor(5.0 / 6.0 * 10000 + 0.5) / 10000)))
    val full = graft.ops.TextOps.vocabCoverage(df, col("text"), 1.0)
      .as[(Long, Long, Int, Double)].head()
    assert(full == ((6L, 3L, 3, 1.0)))
    // tie between equal counts resolves term-ascending: "b b a a c" at
    // 0.5 must pick {a} (ceil(2.5)=3 needs 2 terms? no: a=2 < 3 → 2 terms)
    val tie = graft.ops.TextOps.vocabCoverage(Seq("b b a a c").toDF("text"),
      col("text"), 0.4).as[(Long, Long, Int, Double)].head()
    assert(tie._3 == 1) // ceil(0.4*5)=2 = count of 'a' alone (tie → a first)
  }

  test("rfm: quartile direction — recent/frequent/heavy spenders score 4") {
    import spark.implicits._
    val orders = Seq(
      (1L, "2001-08-30", 100.0), // recent, 1 order, low spend
      (2L, "2001-01-01", 500.0), (2L, "2001-02-01", 500.0),
      (3L, "2000-06-01", 50.0),
      (4L, "1999-01-01", 10.0), (4L, "1999-02-01", 10.0), (4L, "1999-03-01", 10.0)
    ).toDF("c", "d", "amt").select(col("c"), col("d").cast("timestamp").as("d"), col("amt"))
    val r = graft.ops.EventAnalytics.rfm(orders, col("c"), col("d"), col("amt"),
        asOf = "2001-09-01")
      .select(col("cust"), col("r"), col("f"), col("m"))
      .as[(Long, Int, Int, Int)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r(1L)._1 == 4) // most recent
    assert(r(4L)._1 == 1) // oldest
    assert(r(4L)._2 == 4) // most orders (3)
    assert(r(2L)._3 == 4) // highest spend (1000)
    assert(r(3L)._3 == 2 || r(3L)._3 == 1) // low spender in a low quartile
  }

  test("eventGaps: lag deltas per user, tie-broken by event id") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "2024-01-01 00:00:00"), (2L, 10L, "2024-01-01 00:00:10"),
      (3L, 10L, "2024-01-01 00:00:40"), (4L, 20L, "2024-01-01 00:00:00"),
      // same ts for user 30: order by event_id ⇒ gap 0 then 5
      (5L, 30L, "2024-01-01 00:01:00"), (6L, 30L, "2024-01-01 00:01:00"),
      (7L, 30L, "2024-01-01 00:01:05")
    ).toDF("e", "u", "t").select(col("e"), col("u"), col("t").cast("timestamp").as("t"))
    val r = graft.ops.EventAnalytics.eventGaps(ev, col("u"), col("t"), col("e"))
      .as[(Long, Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r(10L) == ((2L, 20.0, 30L)))
    assert(!r.contains(20L)) // single event: no gaps
    assert(r(30L) == ((2L, 2.5, 5L)))
  }

  test("jaroWinkler expression: textbook values, DuckDB edge semantics, codegen path") {
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("dixon", "dicksonx"), ("", ""),
      ("abc", ""), ("crate", "trace"), ("abc", "abc"), ("ab", "ba"))
      .toDF("a", "b")
      .select(graft.functions.HashFunctions.jaroWinkler(col("a"), col("b")).as("jw"))
    val r = df.as[Double].collect()
    assert(math.abs(r(0) - 0.9611111111111111) < 1e-12)
    assert(math.abs(r(1) - 0.8133333333333332) < 1e-9)
    assert(r(2) == 0.0) // DuckDB parity: both-empty is 0, not 1
    assert(r(3) == 0.0)
    assert(math.abs(r(4) - 0.7333333333333333) < 1e-12) // jaro ≤ boost? no: > .7 but prefix 0
    assert(r(5) == 1.0)
    assert(r(6) == 0.0) // window 0: only same-position chars can match
    // whole-stage codegen must survive the custom expression (a local
    // relation folds eagerly, so probe over a range scan)
    val probe = spark.range(2).select(graft.functions.HashFunctions
      .jaroWinkler(concat(lit("abc"), col("id")), lit("abc0")).as("jw"))
    assert(probe.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(probe.as[Double].collect().exists(_ == 1.0))
  }

  test("jwPairs: blocking bounds candidates, threshold rounds before compare") {
    import spark.implicits._
    val df = Seq("jonathan smith", "jonathon smith", "jon smith",
      "bob jones", "bob james", "zz top").toDF("n")
    val r = graft.ops.Linkage.jwPairs(df, col("n"), c => substring(c, 1, 2),
        threshold = 0.9)
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2)).toSet
    assert(r.contains(("jonathan smith", "jonathon smith")))
    // cross-block pair never scored even though similar
    assert(!r.exists(p => p._1.startsWith("bob") && p._2.startsWith("jo")))
    // zz top has no block partner
    assert(!r.exists(p => p._1 == "zz top" || p._2 == "zz top"))
  }

  test("degreeHistogram: hand-built graph, dedup, zero-sides via full outer") {
    import spark.implicits._
    // 1→2 (dup), 1→3, 2→3: node 1 = (2 out, 0 in), 2 = (1, 1), 3 = (0, 2)
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    val h = graft.ops.Graph.degreeHistogram(edges, col("s"), col("d"))
      .as[(Long, Long, Long)].collect().toSet
    assert(h == Set((2L, 0L, 1L), (1L, 1L, 1L), (0L, 2L, 1L)))
  }

  test("kHopDistance: min hop wins, frontier excludes visited, early stop past depth") {
    import spark.implicits._
    // diamond 1→2→4, 1→3→4 plus long way 4→5; 2 also →5 directly
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 5L))
      .toDF("s", "d")
    val r = graft.ops.Graph.kHopDistance(edges, col("s"), col("d"),
      seeds = Seq(1L), maxHops = 3).as[(Long, Int)].collect().toMap
    // 5 is reachable at hop 2 via 2→5 — the hop-3 path must NOT override
    assert(r == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2))
    // maxHops larger than the graph's depth: early termination, same result
    val r2 = graft.ops.Graph.kHopDistance(edges, col("s"), col("d"),
      seeds = Seq(1L), maxHops = 10).as[(Long, Int)].collect().toMap
    assert(r2 == r)
    // a seed is hop 0 even when it also appears downstream
    val r3 = graft.ops.Graph.kHopDistance(edges, col("s"), col("d"),
      seeds = Seq(1L, 4L), maxHops = 2).as[(Long, Int)].collect().toMap
    assert(r3(4L) == 0 && r3(5L) == 1)
  }

  test("itemCosine: popularity correction demotes the bestseller pair") {
    import spark.implicits._
    // items 10,11 co-occur twice and are rare (freq 2 each) -> cosine 1.0;
    // 20 is in every group, 21 in two -> shared 2 but cosine 2/sqrt(4*2)
    val df = Seq((1L, 10L), (1L, 11L), (1L, 20L), (2L, 10L), (2L, 11L),
      (2L, 20L), (3L, 20L), (3L, 21L), (4L, 20L), (4L, 21L)).toDF("g", "i")
    val r = graft.ops.Graph.itemCosine(df, col("g"), col("i"), minShared = 2)
      .select(col("i_a"), col("i_b"), col("cosine"))
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(r((10L, 11L)) == 1.0)
    assert(r((20L, 21L)) == math.floor(2.0 / math.sqrt(4.0 * 2.0) * 10000 + 0.5) / 10000)
    assert(r((10L, 20L)) == math.floor(2.0 / math.sqrt(2.0 * 4.0) * 10000 + 0.5) / 10000)
    assert(r((10L, 11L)) > r((20L, 21L)))
  }

  test("pageRank: source-only nodes keep base rank, mass flows two hops, absorbed not lost") {
    import spark.implicits._
    // chain a→b→c plus a second feeder d→b: after 2+ iterations c holds
    // mass that travelled two hops; a and d (no in-edges) sit at base
    val edges = Seq((1L, 2L), (4L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = graft.ops.Graph.pageRank(edges, col("src"), col("dst"), iterations = 3)
      .as[(Long, Double)].collect().toMap
    val n = 4.0; val base = 0.15 / n
    assert(math.abs(r(1L) - base) < 1e-12 && math.abs(r(4L) - base) < 1e-12)
    // b gets both feeders' full rank (outdeg 1 each); c gets b's rank
    assert(math.abs(r(2L) - (base + 0.85 * (r(1L) + r(4L)))) < 1e-12)
    assert(r(3L) > r(2L) * 0.5 && r(3L) > base) // two-hop mass arrived
    // simplified model: total mass ≤ 1 (dangling absorption, never creation)
    assert(r.values.sum <= 1.0 + 1e-9)
  }

  test("personalized pageRank: teleport concentrates on seeds; unreachable nodes rank 0") {
    import spark.implicits._
    // chain 1→2→3 reachable from seed 1; island 4→5 unreachable
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val r = graft.ops.Graph.pageRank(edges, col("src"), col("dst"),
        iterations = 3, seeds = Seq(1L))
      .as[(Long, Double)].collect().toMap
    assert(r(4L) == 0.0 && r(5L) == 0.0) // no teleport, no inflow: exactly 0
    val base = 1.0 - 0.85 // full teleport mass on the single seed
    assert(math.abs(r(1L) - base) < 1e-12)
    assert(math.abs(r(2L) - 0.85 * base) < 1e-12) // seed's rank flows one hop
    assert(r(3L) > 0 && r.values.sum <= 1.0 + 1e-9)
    // empty seeds stays the uniform variant (g01 path unchanged)
    val u = graft.ops.Graph.pageRank(edges, col("src"), col("dst"), iterations = 1)
      .as[(Long, Double)].collect().toMap
    assert(u(4L) > 0.0)
    // a seed absent from the graph would silently lose its teleport
    // share — must refuse loudly instead
    val e = intercept[IllegalArgumentException] {
      graft.ops.Graph.pageRank(edges, col("src"), col("dst"),
        iterations = 1, seeds = Seq(1L, 99L))
    }
    assert(e.getMessage.contains("99"))
  }

  test("saltedEquiJoin: row-identical to the plain join, spreads a hot key") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("okey"), col("l_linenumber"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("okey", "l_linenumber", "l_quantity", "o_orderpriority")
        .as[(Long, Long, Double, String)].collect().sorted.toSeq
    val salted = canon(graft.ops.Joins.saltedEquiJoin(li, ord, "okey",
      xxhash64(col("okey"), col("l_linenumber")), salts = 8))
    assert(salted == canon(li.join(ord, "okey")))
    // the salt actually spreads: a key's probe rows land in >1 salt bucket
    val spread = li.withColumn("s",
        pmod(xxhash64(lit("saltj"), xxhash64(col("okey"), col("l_linenumber"))), lit(8)))
      .groupBy("okey").agg(countDistinct(col("s")).as("nsalts"), count(lit(1)).as("n"))
      .filter(col("n") >= 4).agg(min(col("nsalts")), avg(col("nsalts")))
      .as[(Long, Double)].head()
    assert(spread._2 > 2.0, s"salts did not spread: $spread")
  }

  test("bloomPrunedJoin: row-identical to the plain join; the prune actually drops rows") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("ckey"), col("o_totalprice"))
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("ckey"), col("c_name"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("ckey", "o_orderkey", "o_totalprice", "c_name")
        .as[(Long, Long, Double, String)].collect().sorted.toSeq
    val pruned = graft.ops.Joins.bloomPrunedJoin(orders, cust, "ckey")
    assert(canon(pruned) == canon(orders.join(cust, Seq("ckey"))))
    // the filter is selective: far fewer probe rows survive than exist —
    // this is the shuffle volume the prune saves at scale
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val hashes = cust.select(xxhash64(col("ckey")).as("h")).distinct().as[Long].collect()
    val m = graft.functions.BloomSet.optimalNumBits(hashes.length.toLong, 1e-6)
    val k = graft.functions.BloomSet.optimalNumProbes(hashes.length.toLong, m)
    val bits = graft.functions.BloomSet.build(hashes, m, k)
    val survivors = orders.filter(call_function("graft_bloom_contains",
      lit(bits), xxhash64(col("ckey")), lit(k))).count()
    val total = orders.count()
    val trueHits = orders.join(cust.select("ckey").distinct(), Seq("ckey")).count()
    assert(survivors < total / 2, s"prune not selective: $survivors of $total")
    // no false negatives, bounded false positives
    assert(survivors >= trueHits)
    assert(survivors <= trueHits + math.max(10L, total / 100))
  }

  test("learnWordPieceMerges: likelihood ranking diverges from raw-count BPE where it should") {
    // (a,b) is the most FREQUENT pair (3) but a and b are promiscuous;
    // (q,z) occurs only together (2) — WordPiece's pc/(c_l*c_r) must
    // pick (q,z) first while BPE picks (a,b)
    val docs = Seq("ab ab ab ax ay az bq bw bv", "qz qz").toDF("text")
    val wp = graft.ops.Bpe.learnWordPieceMerges(docs, col("text"), numMerges = 1)
      .as[(Int, String, String, Long, Long)].head()
    assert((wp._2, wp._3, wp._4) == ("q", "z", 2L), s"wordpiece picked $wp")
    val bpe = graft.ops.Bpe.learnMerges(docs, col("text"), numMerges = 1)
      .as[(Int, String, String, Long)].head()
    assert((bpe._2, bpe._3, bpe._4) == ("a", "b", 3L), s"bpe picked $bpe")
    // quantized score: 2e9 / (c_q * c_z), c_q = 3 (qz×2 + bq),
    // c_z = 3 (qz×2 + az)
    assert(wp._5 == 2000000000L / (3L * 3L), s"score ${wp._5}")
  }

  test("keywordTags: Aho-Corasick equals brute contains on overlapping patterns; interpreted parity") {
    VectorFunctions.register(spark)
    val dict = Seq("he", "she", "his", "hers", "a", "ab", "abab")
    // the classic overlap fixture plus strings exercising fail links
    val texts = Seq("ushers", "SHE said his", "ababab", "xyz", "", "hehehers",
      "aaaa", "ba", "hershey")
    val got = texts.toDF("t")
      .select(graft.ops.TextOps.keywordTags(col("t"), dict).as("tags"))
      .collect().map(_.getSeq[String](0).toList)
    val want = texts.map(t =>
      dict.map(_.toLowerCase).sorted.filter(t.toLowerCase.contains(_)).toList)
    assert(got.toSeq == want,
      s"AC vs brute mismatch: ${got.toSeq} vs $want")
    // interpreted (non-codegen) eval parity
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val expr = graft.functions.KeywordTags(Literal("ushers"),
      Literal.create(dict, ArrayType(StringType)))
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until interp.numElements()).map(interp.getUTF8String(_).toString)
      == Seq("he", "hers", "she"))
  }

  test("holtLinearDaily: level tracks volume, trend tracks slope on a planted ramp") {
    import java.sql.Timestamp
    // planted series: 10/day for 10 days then +5/day ramp for 10 days
    val rows = for {
      d <- 0 until 20
      n = if (d < 10) 10 else 10 + 5 * (d - 9)
      i <- 0 until n
    } yield (Timestamp.valueOf(f"2024-03-${d + 1}%02d 12:00:00"), i)
    val df = rows.toDF("ts", "i")
    val out = graft.ops.EventAnalytics.holtLinearDaily(df, col("ts"))
      .orderBy("day").as[(java.sql.Date, Long, Double, Double)].collect()
    assert(out.length == 20)
    // flat segment: trend stays near 0, level near 10
    val flat = out(9)
    assert(math.abs(flat._3 - 10) < 1 && math.abs(flat._4) < 0.5, s"$flat")
    // ramp segment: trend turns decisively positive
    val ramp = out(19)
    assert(ramp._4 > 1.0, s"trend did not follow the ramp: $ramp")
    // deterministic under relayout
    val out2 = graft.ops.EventAnalytics.holtLinearDaily(
      df.repartition(7, col("i")), col("ts"))
      .orderBy("day").as[(java.sql.Date, Long, Double, Double)].collect()
    assert(out2.toSeq == out.toSeq)
  }

  test("poissonBootstrapCi: CI brackets the mean at sane width; layout-independent") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Profile.poissonBootstrapCi(df, col("o_totalprice"),
        col("o_orderkey"), b = 100).as[(Long, Double, Double, Double)].head()
    val (b, mean, lo, hi) = run(orders)
    assert(b == 100 && lo < mean && mean < hi, s"CI ($lo, $hi) vs mean $mean")
    // width sanity: the bootstrap CI should be within a factor ~2 of the
    // analytic ±1.96·σ/√n normal interval
    val (sd, n) = orders.select(stddev(col("o_totalprice")),
      count(lit(1)).cast("double")).as[(Double, Double)].head()
    val analytic = 2 * 1.96 * sd / math.sqrt(n)
    val width = hi - lo
    assert(width > analytic / 2 && width < analytic * 2,
      s"width $width vs analytic $analytic")
    // hash-derived multiplicities ⇒ identical result under any layout
    assert(run(orders.repartition(13, col("o_custkey"))) == (b, mean, lo, hi))
  }

  test("PoissonMults: array form is elementwise the md5-spelling multiplicity; CDFs in sync") {
    // the batched expression must replay the exploded spelling the
    // oracle restates: m[rep] == inverse-CDF(md5_52('salt:rep:id')/2^52)
    graft.functions.VectorFunctions.register(spark)
    assert(graft.functions.PoissonMults.Cdf.toSeq ==
      graft.ops.Profile.PoissonCdf, "CDF tables diverged")
    val ids = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").cast("string").as("id")).limit(500)
    val b = 23
    val batched = ids.select(col("id"),
      posexplode(call_function("graft_poisson_mults",
        col("id"), lit(b), lit("pbX"))).as(Seq("rep", "m")))
    val u = call_function("graft_md5_prefix52", concat(lit("pbX:"),
      col("rep").cast("string"), lit(":"), col("id")))
      .cast("double") / lit(4503599627370496.0)
    val spelled = graft.ops.Profile.PoissonCdf.zipWithIndex
      .foldRight(lit(9): org.apache.spark.sql.Column) {
        case ((c, i), rest) => when(u < c, lit(i)).otherwise(rest)
      }
    val diff = batched.withColumn("m2", spelled)
      .filter(col("m") =!= col("m2")).count()
    assert(diff == 0, s"$diff (id, rep) multiplicities diverge from the md5 spelling")
    // and the distribution is sane: mean multiplicity ~1 (Poisson(1))
    val mean = batched.agg(avg(col("m"))).as[Double].head()
    assert(math.abs(mean - 1.0) < 0.05, s"multiplicity mean $mean far from 1")
  }

  test("poissonBootstrapAbCi: null split's CI contains 0; planted lift detected") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    // an arbitrary-parity split of one population: true lift = ~0 and
    // the CI must say so
    val nullCi = graft.ops.Profile.poissonBootstrapAbCi(orders,
      col("o_totalprice"), col("o_orderkey"), col("o_orderkey") % 2 === 0,
      b = 100).as[(Long, Double, Double, Double)].head()
    assert(nullCi._3 < 0 && nullCi._4 > 0,
      s"null-split CI excludes 0: $nullCi")
    // plant a +50000 lift (well past the ~13k CI half-width this data's
    // variance gives at sf0.001): the CI must exclude 0
    val planted = orders.withColumn("v2",
      col("o_totalprice") + when(col("o_orderkey") % 2 === 0, 50000.0).otherwise(0.0))
    val liftCi = graft.ops.Profile.poissonBootstrapAbCi(planted,
      col("v2"), col("o_orderkey"), col("o_orderkey") % 2 === 0,
      b = 100).as[(Long, Double, Double, Double)].head()
    assert(liftCi._3 > 0 && liftCi._4 > liftCi._3,
      s"planted-lift CI wrong: $liftCi")
    assert(math.abs(liftCi._2 - (nullCi._2 + 50000)) < 1e-6,
      s"full-sample lift ${liftCi._2} vs ${nullCi._2} + 50000")
  }

  test("multiTouchAttribution: per-journey credits sum to 1; schemes agree on totals") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val out = graft.ops.EventAnalytics.multiTouchAttribution(ev,
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      "purchase", Seq("click", "view"))
      .as[(String, Long, Double, Double)].collect()
    assert(out.map(_._1).toSet == Set("click", "view"))
    // both schemes distribute exactly one unit per attributed journey, so
    // channel totals must agree up to per-touch 6-dp rounding
    val totL = out.map(_._3).sum
    val totU = out.map(_._4).sum
    assert(math.abs(totL - totU) < 1e-2, s"linear $totL vs u-shaped $totU")
    // and equal the count of journeys that have >= 1 touch
    val journeys = ev.select(col("user_id").as("u"), col("ts").as("t"),
        col("event_id").as("e"), col("event_type").as("ty"))
      .withColumn("jid", coalesce(sum(when(col("ty") === "purchase", 1L)
        .otherwise(0L)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy(col("t").asc, col("e").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
    val attributed = journeys.filter(col("ty").isin("click", "view"))
      .select("u", "jid").distinct()
      .join(journeys.filter(col("ty") === "purchase")
        .select("u", "jid").distinct(), Seq("u", "jid"))
      .count()
    assert(math.abs(totL - attributed) < 0.01 * attributed + 1,
      s"linear total $totL vs $attributed attributed journeys")
  }

  test("hits: hubs and authorities separate on a bipartite-ish graph; unit norms") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val sn = spark.read.parquet(s"$sf/supplier.parquet")
      .select((col("s_suppkey") + 1000000L).as("src"), (col("s_nationkey") + 2000000L).as("dst"))
    val out = graft.ops.Graph.hits(li.unionByName(sn), col("src"), col("dst"))
      .as[(Long, Double, Double)].collect()
    // parts (ids < 1e6) are pure sources: hub > 0, auth = 0
    val parts = out.filter(_._1 < 1000000L)
    assert(parts.nonEmpty && parts.forall(p => p._2 > 0 && p._3 == 0.0))
    // nations (ids >= 2e6) are pure sinks: auth > 0, hub = 0
    val nations = out.filter(_._1 >= 2000000L)
    assert(nations.nonEmpty && nations.forall(p => p._3 > 0 && p._2 == 0.0))
    // L2 norms ≈ 1 after the final normalization of each vector
    val hubNorm = math.sqrt(out.map(p => p._2 * p._2).sum)
    val authNorm = math.sqrt(out.map(p => p._3 * p._3).sum)
    assert(math.abs(hubNorm - 1) < 1e-4 && math.abs(authNorm - 1) < 1e-4,
      s"norms $hubNorm $authNorm")
  }

  test("logOddsTerms: distinctive terms are group-exclusive and z-ordered") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.ops.TextOps.logOddsTerms(docs, col("text"),
      col("lang") === "en").as[(String, Long, Long, Double)].collect()
    assert(out.length <= 20 && out.nonEmpty)
    // monotone by construction
    assert(out.map(_._4).toSeq == out.map(_._4).sortBy(-_).toSeq)
    // positive z = over-represented vs the corpus baseline en rate
    // (the synthetic corpus shares vocabulary across langs, so the
    // signal is relative, not exclusive)
    val ta = out.map(_._2).sum.toDouble
    val tb = out.map(_._3).sum.toDouble
    val baseline = ta / (ta + tb)
    val top = out.take(5)
    assert(top.forall(t => t._4 > 0 &&
      t._2.toDouble / (t._2 + t._3) > baseline),
      s"top terms not en-skewed vs baseline $baseline: ${top.toSeq}")
  }

  test("fellegiSunter: EM separates planted clusters; layout-independent") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val b = cust.select(col("c_custkey").as("bkey"),
      concat(col("c_name"), when(col("c_custkey") % 10 === 0, lit("X"))
        .otherwise(lit(""))).as("bname"),
      when(col("c_custkey") % 7 === 0, lit("ALT"))
        .otherwise(col("c_mktsegment")).as("bseg"),
      when(col("c_custkey") % 5 === 0, col("c_nationkey") + 1)
        .otherwise(col("c_nationkey")).as("bnat"))
    val pairs = cust.join(b, cust("c_custkey") === b("bkey"))
      .unionByName(cust.join(b, cust("c_custkey") + 1 === b("bkey")))
    val agree = Seq(col("c_name") === col("bname"),
      col("c_mktsegment") === col("bseg"), col("c_nationkey") === col("bnat"))
    val ((p, m, u), ws) = graft.ops.Linkage.fellegiSunterParams(pairs, agree)
    // the match cluster is "name agrees": m0 near 1, u0 near 0, and
    // p near the true match fraction (half the candidates, minus the
    // name-perturbed tenth that EM assigns to the u-cluster)
    assert(m(0) > 0.9 && u(0) < 0.1, s"m=${m.toSeq} u=${u.toSeq}")
    assert(p > 0.3 && p < 0.6, s"p=$p")
    val byPat = ws.map { case (g, n, w) => (g.mkString, (n, w)) }.toMap
    assert(byPat("111")._2 > 0.9)
    assert(byPat("000")._2 < 0.1)
    // exact-decimal M-step sums ⇒ the fit is partition-layout-invariant
    val ((p2, m2, u2), ws2) = graft.ops.Linkage.fellegiSunterParams(
      pairs.repartition(13, col("c_nationkey")), agree)
    assert(p2 == p && m2.toSeq == m.toSeq && u2.toSeq == u.toSeq &&
      ws2.toSet == ws.toSet)
  }

  test("kmv sketch: equals the exact bottom-k distinct set, layout-independent, est within RSE") {
    import graft.ops.Sketches
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val k = 128
    // the aggregator's sketch must be a pure function of the value set:
    // exactly the k smallest distinct hashes, however the data is laid out
    val exactBottom = li.select(Sketches.kmvHash(col("l_partkey"), "kt").as("h"))
      .distinct().orderBy("h").limit(k).as[Long].collect().toSeq
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.select(Sketches.kmvHash(col("l_partkey"), "kt").as("__h"))
        .agg(graft.functions.KmvSketch.bottomK(k)(col("__h")))
        .head().getSeq[Long](0)
    assert(sketch(li) == exactBottom)
    assert(sketch(li.repartition(17, col("l_suppkey"))) == exactBottom)
    // estimator: within 4 RSE of the true distinct count
    val est = Sketches.kmvDistinctPerGroup(li, lit("all"), col("l_partkey"),
      k, "kt").select("est").as[Long].head()
    val exact = li.select(countDistinct(col("l_partkey"))).as[Long].head()
    val rse = 1.0 / math.sqrt((k - 2).toDouble)
    assert(math.abs(est - exact).toDouble / exact < 4 * rse,
      s"kmv est $est vs exact $exact outside 4*RSE")
    // the hash is the documented md5 prefix — cross-engine anchor value
    assert(spark.range(1).select(Sketches.kmvHash(lit("abc"), "kmv1"))
      .head().getLong(0) == java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest("kmv1:abc".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(13), 16))
  }

  test("ntileByScore: two-level rank equals the global-window ntile, any n mod k") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Int)].collect().toSet
    // n mod k = 0 and != 0, plus tile counts k < n and k > available buckets
    for (k <- Seq(10, 7); limit <- Seq(500, 493)) {
      val scored = docs.limit(limit)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
      val dist = canon(graft.ops.Pipeline.ntileByScore(
        scored, col("doc_id"), col("q"), k))
      val global = canon(scored.select(col("doc_id"), col("q"),
        ntile(k).over(Window.orderBy(col("q"), col("doc_id"))).as("tile")))
      assert(dist == global, s"k=$k limit=$limit")
    }
    // n < k: first n tiles get one row each (the small-divisor edge)
    val tiny = docs.limit(4)
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
    val tiles = graft.ops.Pipeline.ntileByScore(tiny, col("doc_id"), col("q"), 10)
      .select("tile").as[Int].collect().sorted
    assert(tiles.toSeq == Seq(1, 2, 3, 4))
  }

  test("IVF kNN join with full probe equals the broadcast-exact join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(200).cache()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = canon(Similarity.knnJoinBroadcast(emb, emb,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3))
    val ivf = canon(Similarity.knnJoinIvf(emb, emb,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3,
      // nProbe = nLists ⇒ every list probed ⇒ exact
      nListsOpt = Some(8), nProbeOpt = Some(8)))
    assert(ivf == exact)
  }

  test("knnJoinIvf with no knobs defaults to autoIvfParams (≡ knnJoinIvfAuto)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(150).cache()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val noKnobs = canon(Similarity.knnJoinIvf(emb, emb,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3))
    val explicitAuto = canon(Similarity.knnJoinIvfAuto(emb, emb,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3))
    assert(noKnobs == explicitAuto)
    // and the auto knobs differ from the old fixed defaults' 25% probe
    // fraction: the derived fraction is bounded at 12.5%
    val (nl, np) = Similarity.autoIvfParams(150L)
    assert(np.toDouble / nl <= 0.25)
  }

  test("Sq8 encode/dot: bounded quantization error, parity, ragged input → NULL") {
    VectorFunctions.register(spark)
    import graft.functions.{Sq8Encode, Sq8Dot}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    // asymmetric int8 score vs exact cosine: error ≤ dim · (1/254) per
    // unit-query component in the worst case; empirically far below —
    // assert a loose 0.05 absolute bound on real vectors
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val qn = { val n = math.sqrt(q.map(x => x * x).sum); q.map(_ / n) }
    val errs = emb.select(
      graft.functions.VectorFunctions.cosine(col("embedding"), typedLit(q)).as("exact"),
      graft.functions.VectorFunctions.sq8Dot(
        graft.functions.VectorFunctions.sq8Encode(col("embedding")), qn).as("approx"))
      .select(abs(col("exact") - col("approx"))).collect().map(_.getDouble(0))
    assert(errs.max < 0.05, s"max int8 quantization error ${errs.max}")
    // interpreted eval parity with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val v = Literal.create(Seq(3.0, 4.0), ArrayType(DoubleType))
    val codes = Sq8Encode(v).eval(null).asInstanceOf[Array[Byte]]
    assert(codes.toSeq == Seq[Byte]((0.6 * 127).round.toByte, (0.8 * 127).round.toByte))
    val dot = Sq8Dot(Literal.create(codes, org.apache.spark.sql.types.BinaryType),
      Literal.create(Seq(0.6, 0.8), ArrayType(DoubleType))).eval(null).asInstanceOf[Double]
    assert(math.abs(dot - 1.0) < 0.01)
    // ragged: 2-dim codes against 3-dim query
    assert(Sq8Dot(Literal.create(codes, org.apache.spark.sql.types.BinaryType),
      Literal.create(Seq(1.0, 0.0, 0.0), ArrayType(DoubleType))).eval(null) == null)
    // zero vector encodes to zero bytes, not NaN
    assert(Sq8Encode(Literal.create(Seq(0.0, 0.0), ArrayType(DoubleType)))
      .eval(null).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](0, 0))
  }

  test("Sq8 index save/load roundtrip answers identically to the inline path") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq
    val inline = canon(Similarity.sq8TopK(corpus, col("vec_id"),
      col("embedding"), q, k = 5, rerank = 50))
    val built = Similarity.buildSq8(corpus, col("vec_id"), col("embedding"))
    assert(canon(built.topK(q, k = 5, rerank = 50)) == inline)
    val dir = "/root/repo/target/derived/spec_sq8"
    Similarity.saveSq8(built, dir)
    val loaded = Similarity.loadSq8(spark, dir, corpus, col("vec_id"), col("embedding"))
    assert(canon(loaded.topK(q, k = 5, rerank = 50)) == inline)
  }

  test("sq8TopK at full rerank equals brute-force exact top-k") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val n = corpus.count().toInt
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), round(col("cosine"), 6)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = canon(Similarity.bruteForceTopK(corpus, col("vec_id"),
      col("embedding"), q, k = 10))
    val sq8 = canon(Similarity.sq8TopK(corpus, col("vec_id"),
      col("embedding"), q, k = 10, rerank = n))
    assert(sq8 == exact)
    // the ε-band self-sizing path is exact WITHOUT any rerank knob
    val banded = canon(Similarity.buildSq8(corpus, col("vec_id"), col("embedding"))
      .topKExact(q, k = 10))
    assert(banded == exact)
  }

  test("intervalOverlapJoin: equals the naive inequality join; multi-slot pairs emit once") {
    import graft.ops.TemporalJoin
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // left windows span many 1-day slots; (1,10) × (2,20) share slots
    // 2..10 — the first-shared-slot rule must emit that pair exactly once
    val left = Seq((1L, ts(1), ts(10)), (2L, ts(5), ts(6)), (3L, ts(25), ts(26)))
      .toDF("l_id", "l_s", "l_e")
    val right = Seq((10L, ts(2), ts(20)), (20L, ts(9), ts(12)), (30L, ts(24), ts(24)))
      .toDF("r_id", "r_s", "r_e")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val naive = canon(left.crossJoin(right)
      .filter(col("l_s") <= col("r_e") && col("r_s") <= col("l_e")))
    val slotted = canon(TemporalJoin.intervalOverlapJoin(
      left, "l_s", "l_e", right, "r_s", "r_e", slotSeconds = 86400))
    assert(slotted == naive)
    assert(slotted.size == naive.size, "slot replication must not duplicate pairs")
    // auto slot (max of the two medians) lands on the same pair set
    val auto = canon(TemporalJoin.intervalOverlapJoin(
      left, "l_s", "l_e", right, "r_s", "r_e"))
    assert(auto == naive)
  }

  test("tfIdfTopTerms: rare terms outrank common ones; rounded-score ranking") {
    val docs = Seq(
      (1L, "apple apple banana zebra"),
      (2L, "apple banana banana"),
      (3L, "apple cherry")).toDF("doc_id", "text")
    val out = TextOps.tfIdfTopTerms(docs, col("doc_id"), col("text"), k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val d1 = out.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSet
    // doc 1: apple tf=2 df=3 → 2·ln(4/4)=0; zebra/banana tf=1, df 1 vs 2
    // → zebra (ln 2) and banana (ln 4/3) outrank apple (0)
    assert(d1 == Set(("zebra", 1L, 1L), ("banana", 1L, 2L)))
    // every doc contributes at most k rows
    assert(out.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("zorder: partition z-ranges are disjoint; one-dim filters touch fewer partitions") {
    import graft.ops.Layout
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), (col("o_orderkey") % 1024).as("y"))
    // interleave round-trips: bit i of x at position 2i, y at 2i+1
    val z5 = Layout.zValue(lit(5L), lit(3L), bits = 4)
    //   x=0101 → bits 0,4 ; y=0011 → bits 1,3  ⇒ z = 1+2+8+16 = 27
    assert(orders.select(z5).head().getLong(0) == 27L)
    val parted = Layout.zorder(orders, col("o_custkey"), col("y"), numPartitions = 8)
      .withColumn("z", Layout.zValue(col("o_custkey"), col("y")))
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
    val ranges = parted.groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    for (Seq(a, b) <- ranges.toSeq.sliding(2))
      assert(a._2 <= b._1, s"overlapping z-ranges $a $b")
    // a filter on y ALONE: an x-sorted layout scatters matches across
    // partitions; the z-order layout concentrates them
    def touched(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .filter(col("y") < 32).select("pid").distinct().count()
    val xSorted = orders.repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
    val zTouched = touched(parted)
    val xTouched = touched(xSorted)
    assert(zTouched < xTouched,
      s"z-order layout must localize the y-filter: z=$zTouched vs x-sorted=$xTouched")
  }

  test("zValueN: 3-key interleave positions; z-chunks confine every dimension at once") {
    import spark.implicits._
    import graft.ops.Layout
    // bit i of key j at position 3i+j: x=1→pos0, y=2→pos4, z=3→pos2,5
    val v = Seq(1).toDF("one").select(
      Layout.zValueN(Seq(lit(1L), lit(2L), lit(3L)), bits = 2)).head().getLong(0)
    assert(v == (1L + 16L + 4L + 32L))
    // 2-key form is the k=2 special case, bit for bit
    val pair = Seq(1).toDF("one").select(
      Layout.zValue(lit(13L), lit(6L), bits = 4),
      Layout.zValueN(Seq(lit(13L), lit(6L)), bits = 4)).head()
    assert(pair.getLong(0) == pair.getLong(1))
    // Morton property on the full 8x8x8 grid: each consecutive eighth of
    // the z-sorted order is exactly one octant — EVERY key confined to a
    // span of 3 (half its global span), which is what makes min/max
    // pruning work on the third dimension too (a lexicographic sort
    // leaves the last key's span at 7 in every chunk)
    val grid = for (x <- 0 to 7; y <- 0 to 7; z <- 0 to 7) yield (x, y, z)
    val coded = grid.toDF("x", "y", "z")
      .withColumn("zc", Layout.zValueN(Seq(col("x"), col("y"), col("z")), bits = 3))
      .collect().map(r => (r.getLong(3), (r.getInt(0), r.getInt(1), r.getInt(2))))
      .sortBy(_._1).map(_._2)
    for (chunk <- coded.grouped(64)) {
      def span(f: ((Int, Int, Int)) => Int) = chunk.map(f).max - chunk.map(f).min
      assert(span(_._1) == 3 && span(_._2) == 3 && span(_._3) == 3,
        s"octant spans ${(span(_._1), span(_._2), span(_._3))}")
    }
    // width guard: interleaved bits must fit a long
    intercept[IllegalArgumentException] {
      Layout.zValueN(Seq(lit(1L), lit(1L), lit(1L)), bits = 22)
    }
  }

  test("hilbertValue: reference-exact; consecutive indices grid-adjacent (what z-order lacks)") {
    import spark.implicits._
    import graft.ops.Layout
    graft.functions.VectorFunctions.register(spark)
    // full 16x16 grid through the codegen'd expression
    val grid = for (x <- 0L to 15L; y <- 0L to 15L) yield (x, y)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), bits = 4).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for ((x, y) <- grid)
      assert(got((x, y)) == graft.functions.Hilbert.xy2d(4, x, y))
    // complete permutation of 0..255, every step Manhattan distance 1 —
    // the locality property: a sorted hilbert range is one unbroken walk
    val byD = got.toSeq.sortBy(_._2)
    assert(byD.map(_._2) == (0L until 256L))
    for (Seq(a, b) <- byD.sliding(2)) {
      val md = math.abs(a._1._1 - b._1._1) + math.abs(a._1._2 - b._1._2)
      assert(md == 1, s"non-adjacent hilbert step $a -> $b")
    }
    // z-order on the same grid DOES jump at quadrant seams (>1 steps) —
    // the measured reason hilbert ranges prune strictly fewer files
    val zByD = grid.map { case (x, y) =>
      ((x, y), (0 until 4).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)) }.sortBy(_._2)
    val zJumps = zByD.sliding(2).count { case Seq(a, b) =>
      math.abs(a._1._1 - b._1._1) + math.abs(a._1._2 - b._1._2) > 1 }
    assert(zJumps > 0, "z-order unexpectedly adjacency-perfect")
    // masking contract: wide keys reduce mod 2^bits, like zValueN
    assert(Seq((21L, 3L)).toDF("x", "y")
      .select(Layout.hilbertValue(col("x"), col("y"), bits = 2)).head().getLong(0)
      == graft.functions.Hilbert.xy2d(2, 21L & 3L, 3L))
    // interpreted (non-codegen) eval parity
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = graft.functions.HilbertIndex(Literal(5L), Literal(3L), Literal(4))
    assert(interp.eval(null).asInstanceOf[Long] ==
      graft.functions.Hilbert.xy2d(4, 5L, 3L))
    // hilbertOrder: partition h-ranges are disjoint (same contract as zorder)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), (col("o_orderkey") % 1024).as("y"))
    val parted = Layout.hilbertOrder(orders, col("o_custkey"), col("y"),
        numPartitions = 8, bits = 10)
      .withColumn("h", Layout.hilbertValue(col("o_custkey"), col("y"), bits = 10))
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
    val ranges = parted.groupBy("pid").agg(min("h").as("lo"), max("h").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    for (Seq(a, b) <- ranges.toSeq.sliding(2))
      assert(a._2 <= b._1, s"overlapping hilbert ranges $a $b")
  }

  test("bench baseline loader: own format preferred; driver tail scraped segment-aware") {
    val dir = java.nio.file.Files.createTempDirectory("bl").toFile
    val valid = Set("d02_ngram_jaccard", "q04_join2", "s01_cosine_topk")
    // no files at all → no baseline (source "none")
    assert(Bench.Baseline.load(dir.getPath, valid).isEmpty)
    // BENCH_r*.json files alone are not a baseline, even one whose
    // escaped stdout tail carries an intact "queries" block
    java.nio.file.Files.writeString(new java.io.File(dir, "BENCH_r07.json").toPath,
      """{"n": 7, "rc": 0, "tail": "\"queries\":{\"d02_ngram_jaccard\":1.500}"}""")
    assert(Bench.Baseline.load(dir.getPath, valid).isEmpty)
    // own bench_baseline.json: per-gate mins, non-gate keys dropped
    java.nio.file.Files.writeString(new java.io.File(dir, "bench_baseline.json").toPath,
      """{"sf":"x","reps":3,"queries":{"s01_cosine_topk":0.200,"zz_notagate":1.000},""" +
        """"sf1_queries":{"s01_cosine_topk":2.000}}""")
    val b = Bench.Baseline.load(dir.getPath, valid).get
    assert(b.queries == Map("s01_cosine_topk" -> 0.2) &&
      b.sf1Queries == Map("s01_cosine_topk" -> 2.0))
  }

  test("bench variance band: median-of-history loader (r13 verdict item 2)") {
    val dir = java.nio.file.Files.createTempDirectory("bh").toFile
    val valid = Set("c03_label_propagation", "q04_join2")
    // history blocks parse per-gate arrays; non-gate keys dropped; the
    // sf1 block is independent; empty arrays stay empty (held gates)
    java.nio.file.Files.writeString(new java.io.File(dir, "bench_baseline.json").toPath,
      """{"sf":"x","reps":3,"queries":{"c03_label_propagation":1.418},""" +
        """"sf1_queries":{"q04_join2":2.000},""" +
        """"history":{"c03_label_propagation":[2.100,3.200,2.800,1.418],"zz_notagate":[9.9],"q04_join2":[]},""" +
        """"sf1_history":{"q04_join2":[2.000,2.100,1.900]}}""")
    val b = Bench.Baseline.load(dir.getPath, valid).get
    val (h01, h1) = (b.history, b.sf1History)
    assert(h01 == Map("c03_label_propagation" -> List(2.1, 3.2, 2.8, 1.418),
      "q04_join2" -> Nil))
    assert(h1 == Map("q04_join2" -> List(2.0, 2.1, 1.9)))
    // median: the c03 scenario — a single lucky 1.418 capture among a
    // 2.0–3.2 norm yields a band of 2.45, so a 3.2 s steady state
    // (< 2×2.45) no longer flags, while a true 6 s regression still does
    val m = Bench.median(h01("c03_label_propagation"))
    assert(math.abs(m - 2.45) < 1e-9)
    assert(Bench.tripwire(b, Seq("c03_label_propagation" -> ((3.2, 0.0))), None).isEmpty)
    assert(Bench.tripwire(b, Seq("c03_label_propagation" -> ((6.0, 0.0))), None) ==
      Seq(Bench.Regression("c03_label_propagation", m, 6.0, "sf0.1")))
    assert(Bench.median(Seq(1.0, 5.0, 3.0)) == 3.0)
  }

  test("compact: merges small-file debris toward the target, preserves rows, restores confs") {
    import graft.ops.Layout
    val base = "target/derived/spec_compact"
    val in = s"$base/in"; val out = s"$base/out"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    li.repartition(24).write.mode("overwrite").parquet(in)
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val confs = spark.conf.getAll
    val inBytes = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val st = Layout.compact(spark, in, out, math.max(1L << 16, inBytes / 4))
    // stats reflect the real listings and the debris actually merged
    assert(st.filesBefore == 24 && st.filesAfter >= 1 && st.filesAfter <= 8,
      s"unexpected compaction shape: $st")
    // content-preserving: exact multiset of rows
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(canon(spark.read.parquet(out)) == canon(li))
    // session confs restored even though the write succeeded
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == oldMax)
    assert(spark.conf.get("spark.sql.files.openCostInBytes") == oldCost)
    // and no default is left behind as an explicit setting
    assert(spark.conf.getAll == confs)
    // the other direction: one oversize file gets SPLIT toward the
    // target — possible only at row-group granularity, so write the
    // fixture with small row groups (as a genuinely big file would have
    // many target-sized ones)
    val one = s"$base/one"; val oneOut = s"$base/oneOut"
    li.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 32 * 1024).parquet(one)
    val oneBytes = new java.io.File(one).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    if (oneBytes >= 2 * (1L << 16)) { // enough data for >=2 target bins
      val st2 = Layout.compact(spark, one, oneOut,
        math.max(1L << 16, oneBytes / 3))
      assert(st2.filesBefore == 1 && st2.filesAfter >= 2, s"no split: $st2")
      assert(canon(spark.read.parquet(oneOut)) == canon(li))
    }
    // a sub-64KiB target is a misconfiguration, not a layout
    intercept[IllegalArgumentException] {
      Layout.compact(spark, in, out, 1024L)
    }
  }

  test("compact: output layout is independent of cluster width (minPartitionNum pinned)") {
    // The r11 red gate: Spark's split size is min(maxPartitionBytes,
    // max(openCostInBytes, totalBytes / minPartitionNum)), and
    // minPartitionNum defaults to the core count — on a wide driver
    // (local[32]+) the sf0.01 fixture's splits shrank to ~5 KB and
    // compaction degenerated to one-file-per-input-file. The suite JVM
    // has 4 cores, so reproduce the wide-cluster condition through the
    // conf Spark actually reads: minPartitionNum=64 ≙ a 64-core session.
    import graft.ops.Layout
    val base = "target/derived/spec_compact_wide"
    val in = s"$base/in"; val out = s"$base/out"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    li.repartition(24).write.mode("overwrite").parquet(in)
    val inBytes = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    spark.conf.set("spark.sql.files.minPartitionNum", "64")
    try {
      val st = Layout.compact(spark, in, out, math.max(1L << 16, inBytes / 4))
      // unpinned, 64-way splitting would emit ~24 files (one per input);
      // pinned, the layout is the same pure function of target size as
      // the narrow-session run in the spec above
      assert(st.filesBefore == 24 && st.filesAfter >= 1 && st.filesAfter <= 8,
        s"compaction must not depend on session width: $st")
      // and the caller's wide-cluster conf survives the call
      assert(spark.conf.get("spark.sql.files.minPartitionNum") == "64")
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("htmlToText: blocks drop before tags, entities decode amp-last, whitespace collapses") {
    import graft.ops.TextOps
    val df = Seq(
      // bare '<' inside script must not derail tag stripping
      (1L, "<div><p>Hello</p><script>if (1 < 2) { x(); }</script><b>world</b></div>"),
      // style + comment subtrees vanish entirely
      (2L, "<style>p { color: red }</style><!-- secret --><p>kept</p>"),
      // &amp;lt; decodes to the LITERAL '&lt;', not '<'
      (3L, "a &amp;lt; b &lt;i&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
      // newlines/tabs collapse to single spaces, ends trimmed
      (4L, "  <p>one\n\ttwo</p>  "))
      .toDF("doc_id", "html")
    val r = TextOps.stripHtml(df, col("doc_id"), col("html"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) == "Hello world")
    assert(r(2L) == "kept")
    assert(r(3L) == "a &lt; b <i> \"q\" 's' end")
    assert(r(4L) == "one two")
  }

  test("scanPruned: skips non-intersecting files, result equals the full filtered scan") {
    import graft.ops.Layout
    val base = "target/derived/spec_statslake"
    val d = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
    Layout.writeWithManifest(spark, d.repartitionByRange(10, col("k")), base, "k")
    val (df, ps) = Layout.scanPruned(spark, base, "k", 250L, 260L)
    assert(ps.filesTotal == 10 && ps.filesRead <= 2 && ps.filesRead >= 1,
      s"range-clustered files should prune sharply: $ps")
    val got = df.select(col("k"), col("v")).as[(Long, Long)].collect().sorted.toSeq
    val want = (250L to 260L).map(k => (k, k * 3))
    assert(got == want)
    // an empty-intersection range reads zero files but keeps the schema
    val (empty, ps0) = Layout.scanPruned(spark, base, "k", 5000L, 6000L)
    assert(ps0.filesRead == 0 && empty.count() == 0)
    assert(empty.columns.toSeq == Seq("k", "v"))
    intercept[IllegalArgumentException] { Layout.scanPruned(spark, base, "k", 10L, 5L) }
  }

  test("c4LineClean: each rule fires independently; clean text re-joins kept lines") {
    val docs = Seq(
      (1L, "Good prose line stays here.\nshort no.\nvar x = {bad};\n" +
        "Uses javascript so it goes.\nlorem ipsum dolor sit amet.\n" +
        "Accept our cookie policy now.\nno terminal punctuation here\n" +
        "Ends with a question mark?\nQuoted line ends right.\""),
      (2L, "nothing survives this one"))
      .toDF("doc_id", "text")
    val out = TextOps.c4LineClean(docs, col("doc_id"), col("text"),
      minLineWords = 3, minKeptLines = 2)
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Int]("n_lines") == 9)
    assert(r1.getAs[Int]("n_kept") == 3)
    assert(r1.getAs[String]("clean_text") ==
      "Good prose line stays here.\nEnds with a question mark?\nQuoted line ends right.\"")
    assert(r1.getAs[Boolean]("c4_keep"))
    val r2 = out(1)
    assert(r2.getAs[Int]("n_kept") == 0 && !r2.getAs[Boolean]("c4_keep") &&
      r2.getAs[String]("clean_text") == "")
  }

  test("hashedLinearMargin: matches a hand fold; empty text yields the bias") {
    // 64 distinct weights: "alpha"→slot 25, "beta"→slot 49 (no collision)
    val w = Seq.tabulate(64)(j => j * 0.5 - 2.0)
    val df = Seq((1L, "alpha beta alpha"), (2L, "  ")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextOps.hashedLinearMargin(col("text"), w, bias = 0.25).as("z"))
      .orderBy("doc_id").collect()
    // compute via the engine itself on single tokens to avoid re-deriving
    // the UTF-8 char-code walk: margin(text) must equal
    // bias + Σ margin(token) − n·bias by linearity of the fold
    val single = Seq("alpha", "beta").toDF("t")
      .select(col("t"), TextOps.hashedLinearMargin(col("t"), w, bias = 0.0).as("z"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(0).getDouble(1) -
      (0.25 + 2 * single("alpha") + single("beta"))) < 1e-12)
    assert(got(1).getDouble(1) == 0.25)
    // weights and token hashing actually discriminate
    assert(single("alpha") != single("beta"))
  }

  test("SlotCounts/HashedMargin: native one-pass forms are bit-identical to the HOF spellings") {
    import graft.ops.Classifier
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val w = Seq.tabulate(64)(j => (((j * 37 + 11) % 21) - 10) / 10.0)
    // margin: identical doubles (same adds in the same token order)
    val md = df.select(
        TextOps.hashedLinearMargin(col("text"), w, bias = -0.5).as("a"),
        TextOps.hashedLinearMarginHof(col("text"), w, bias = -0.5).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(md == 0, s"$md rows: native margin diverges from the HOF fold")
    // slot counts: identical arrays
    val sd = df.select(
        Classifier.slotCounts(col("text"), 64).as("a"),
        Classifier.slotCountsHof(col("text"), 64).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(sd == 0, s"$sd rows: native slot counts diverge from the HOF form")
    // empty text: margin = bias, counts = zeros (the tokens() empty branch)
    val e = Seq("  ").toDF("text").select(
      TextOps.hashedLinearMargin(col("text"), w, bias = 0.25).as("m"),
      Classifier.slotCounts(col("text"), 8).as("c")).head()
    assert(e.getDouble(0) == 0.25 && e.getSeq[Double](1).forall(_ == 0.0))
  }

  test("fitQualityClassifier: learns planted separation; deployed fold equals the model") {
    import graft.ops.Classifier
    val docs = (0 until 80).map { i =>
      if (i % 2 == 0) (i.toLong, s"doc $i great excellent wonderful", 1)
      else (i.toLong, s"doc $i spam junk clickbait", 0)
    }.toDF("doc_id", "text", "label")
    val m = Classifier.fitQualityClassifier(docs, col("text"), col("label"), dim = 32)
    val scored = docs.select(col("label"), m.margin(col("text")).as("z")).collect()
    assert(scored.forall(r => (r.getDouble(1) > 0) == (r.getInt(0) == 1)),
      "planted separation not learned")
    // deployed per-token fold == slot-count dot product (same hash map)
    val alt = aggregate(
      zip_with(Classifier.slotCounts(col("text"), m.weights.length),
        typedLit(m.weights), (c, w) => c * w),
      lit(m.bias), (acc, x) => acc + x)
    val maxDiff = docs.select(max(abs(m.margin(col("text")) - alt))).head().getDouble(0)
    assert(maxDiff < 1e-9, s"deployed fold drifted from the model: $maxDiff")
    // deterministic refit: same data, same weights
    val m2 = Classifier.fitQualityClassifier(docs, col("text"), col("label"), dim = 32)
    assert(m2.weights == m.weights && m2.bias == m.bias)
  }

  test("sharedSpanPairs: counts distinct shared spans; viral spans drop at the cap") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "XX alpha beta gamma delta epsilon zeta eta theta iota kappa YY"),
      (3L, "totally different words with no overlap at all here now"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sharedSpanPairs(d, col("doc_id"), col("text"), n = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // docs 1/2/4 share the 10-word run → 3 internal 8-grams each pair
    assert(pairs.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs((1L, 2L)) == 3)
    // 1 and 4 are identical: all 3 distinct 8-grams shared
    assert(pairs((1L, 4L)) == 3)
    // cap: the same span in 3 docs disappears when maxDocsPerSpan = 2
    val capped = Dedup.sharedSpanPairs(d, col("doc_id"), col("text"),
      n = 8, maxDocsPerSpan = 2)
    assert(capped.count() == 0)
  }

  test("JdbcUpsertSink: second upsert of a key replaces the row, new keys append") {
    import graft.streaming.JdbcUpsertSink
    val url = "jdbc:derby:memory:graftdb;create=true"
    val t = "UPSERT_SPEC"
    val df1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    JdbcUpsertSink.ensureTable(url, t, df1.schema)
    JdbcUpsertSink.upsertBatch(df1, url, t, Seq("k"))
    JdbcUpsertSink.upsertBatch(Seq((1L, 11.0), (3L, 30.0)).toDF("k", "v"), url, t, Seq("k"))
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", t)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 11.0), (2L, 20.0), (3L, 30.0)))
  }

  test("JdbcUpsertSink: a failed batch rolls back and surfaces its own error") {
    import graft.streaming.JdbcUpsertSink
    val url = "jdbc:derby:memory:graftdb;create=true"
    val t = "UPSERT_NN_SPEC"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        st.executeUpdate(s"CREATE TABLE $t (k BIGINT, v VARCHAR(255) NOT NULL)")
        st.executeUpdate(s"INSERT INTO $t VALUES (1, 'a')")
      } finally st.close()
    } finally conn.close()
    // DELETE of key 1 succeeds inside the transaction, the INSERT of a
    // NULL into the NOT NULL column fails (SQLState 23502)
    val e = intercept[Exception] {
      JdbcUpsertSink.upsertBatch(Seq((1L, null: String), (2L, "b")).toDF("k", "v"),
        url, t, Seq("k"))
    }
    val states = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap {
        case s: java.sql.SQLException =>
          Iterator.iterate(s)(_.getNextException).takeWhile(_ != null).map(_.getSQLState)
        case _ => Iterator.empty
      }.toSet
    assert(states("23502") && !states("25001"), s"SQLStates in the cause chain: $states")
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", t)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a")))
  }

  test("dedupLinesInDoc keeps first occurrences in order; capPerGroup binds and is salt-stable") {
    val d = Seq((1L, "a\nb\na\nc\nb\na"), (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.dedupLinesInDoc(d, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("dedup_text") == "a\nb\nc" &&
      out(0).getAs[Int]("n_lines") == 6 && out(0).getAs[Int]("n_kept") == 3)
    assert(out(1).getAs[String]("dedup_text") == "x")

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def capped(k: Int, salt: String) = graft.ops.Pipeline.capPerGroup(
      docs, col("doc_id"), col("source"), k, salt)
    val c = capped(3, "s1")
    val sizes = c.groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 3) && sizes.nonEmpty)
    // deterministic: same salt → same rows; different salt → (almost
    // surely) a different draw
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(capped(3, "s1")) == ids(c))
    assert(ids(capped(3, "s2")) != ids(c))
  }

  test("weightedSample: weight 0 drops all, 1 keeps all, keep-set is monotone in weight") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    def ids(w: Double) = graft.ops.Pipeline.weightedSample(
      df, col("doc_id"), lit(w), salt = "ws").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(0.0).isEmpty)
    assert(ids(1.0).size == df.count())
    val half = ids(0.5); val quarter = ids(0.25)
    assert(quarter.subsetOf(half))
    // deterministic across repeated evaluation
    assert(ids(0.5) == half)
  }

  test("matryoshkaTopK: full-width rerank of a wide-enough funnel equals exact top-k") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") =!= 0)
    val qv = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val n = e.count().toInt
    // rerank = corpus size: stage 1 keeps everything, so the funnel MUST
    // equal the brute-force exact answer whatever the prefix ranks say
    val funnel = Similarity.matryoshkaTopK(e, col("vec_id"), col("embedding"),
      qv, mDims = 8, rerank = n, k = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
      qv, k = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(funnel.toSeq == exact.toSeq)
    // a narrow funnel still returns k rows, scored full-width
    val narrow = Similarity.matryoshkaTopK(e, col("vec_id"), col("embedding"),
      qv, mDims = 8, rerank = 20, k = 10).collect()
    assert(narrow.length == 10)
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopK(e, col("vec_id"), col("embedding"),
        qv, mDims = qv.length, rerank = 20, k = 10)
    }
  }

  test("vacuum: removes only unreferenced files, honors retention, live data intact") {
    import graft.ops.Layout
    val dir = "target/derived/spec_vacuum"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    Layout.writeWithManifest(spark, docsDf.repartition(3), dir, "doc_id")
    val rows = docsDf.count()
    val live = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(live.getPath),
      fs, new org.apache.hadoop.fs.Path(s"$dir/orphan_a.parquet"), false, hconf)
    // retention window still open: the orphan is too young to delete
    val held = Layout.vacuum(spark, dir, minAgeMs = 3600L * 1000)
    assert(held.filesBefore == 4 && held.filesRemoved == 0, s"retention ignored: $held")
    // window closed: exactly the orphan goes, live rows unchanged
    val st = Layout.vacuum(spark, dir, minAgeMs = 0)
    assert(st.filesBefore == 4 && st.filesLive == 3 && st.filesRemoved == 1,
      s"unexpected vacuum shape: $st")
    assert(spark.read.parquet(dir).count() == rows)
    // idempotent: nothing left to remove
    assert(Layout.vacuum(spark, dir, minAgeMs = 0).filesRemoved == 0)
  }

  test("schemaDrift: identical snapshots report nothing; each change class surfaces once") {
    import graft.ops.Checks
    val v1 = "target/derived/spec_drift_v1"; val v2 = "target/derived/spec_drift_v2"
    val o = spark.read.parquet(s"$sf/orders.parquet")
    o.select(col("o_orderkey"), col("o_totalprice")).write.mode("overwrite").parquet(v1)
    assert(Checks.schemaDrift(spark, v1, v1).count() == 0)
    o.select(col("o_orderkey").cast("int").as("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(v2)
    val got = Checks.schemaDrift(spark, v1, v2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("o_orderstatus", "added", null, "string"),
      ("o_totalprice", "removed", "double", null),
      ("o_orderkey", "type_changed", "bigint", "int")))
  }

  test("temperatureMixture: alpha=1 keeps the natural mix, alpha=0 is uniform, weights sum to 1") {
    import graft.ops.Pipeline
    val df = spark.read.parquet(s"$sf/documents.parquet")
    def w(alpha: Double) = Pipeline.temperatureMixture(df, col("source"), alpha)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq.sortBy(_._1)
    val natural = w(1.0)
    for ((_, _, p6, w6) <- natural) assert(math.abs(w6 - p6) < 2e-6, s"alpha=1 must keep p: $p6 vs $w6")
    val uniform = w(0.0)
    val k = uniform.size
    for ((_, _, _, w6) <- uniform) assert(math.abs(w6 - 1.0 / k) < 2e-6)
    // a real temperature sits between: the smallest source's weight rises
    // above its natural share, the largest falls below
    val tempered = w(0.5)
    assert(math.abs(tempered.map(_._4).sum - 1.0) < 1e-4)
    val tByGroup = tempered.map(t => t._1 -> t._4).toMap
    val smallest = natural.minBy(_._3); val largest = natural.maxBy(_._3)
    assert(tByGroup(smallest._1) > smallest._3 - 2e-6)
    assert(tByGroup(largest._1) < largest._3 + 2e-6)
    intercept[IllegalArgumentException] { w(1.5) }
  }

  test("transitionMatrix: hand-built sequence yields exact counts and row-normalized probs") {
    import graft.ops.EventAnalytics
    val ev = Seq(
      (1L, "a", 1L, 10L), (1L, "b", 2L, 11L), (1L, "a", 3L, 12L),
      (2L, "a", 1L, 20L), (2L, "b", 2L, 21L),
      (3L, "b", 5L, 30L) // single event: no transition
    ).toDF("user_id", "event_type", "t", "event_id")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"), col("event_id"))
    val got = EventAnalytics.transitionMatrix(ev, col("user_id"),
      col("event_type"), col("ts"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)))
  }

  test("dailyVolumeAcf: planted period-2 series shows sign-alternating lags") {
    import graft.ops.EventAnalytics
    // 14 days alternating volumes 1 and 3 → lag-1 corr -1, lag-2 corr +1
    val rows = for {
      d <- 0 until 14
      i <- 0 until (if (d % 2 == 0) 1 else 3)
    } yield (java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:0$i"), 1L)
    val ev = rows.toDF("ts", "x")
    val acf = EventAnalytics.dailyVolumeAcf(ev, col("ts"), maxLag = 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(math.abs(acf(1) + 1.0) < 1e-6, s"lag1: ${acf(1)}")
    assert(math.abs(acf(2) - 1.0) < 1e-6, s"lag2: ${acf(2)}")
  }

  test("adamicAdar: tiny incidence list scores by hand") {
    import graft.ops.Graph
    // groups: g1={1,2} (sz 2), g2={1,2,3} (sz 3), g3={2,3} (sz 2)
    val e = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 2L), (30L, 3L)).toDF("g", "i")
    val got = Graph.adamicAdar(e, col("g"), col("i"), minShared = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // the op sums the rounded weights as DECIMAL, so the expectation must
    // too — a double w(2)+w(3) differs in the last ulp
    def w(sz: Int) = BigDecimal(math.floor(1.0 / math.log(sz) * 1e6 + 0.5) / 1e6)
    assert(got((1L, 2L)) == ((2L, (w(2) + w(3)).toDouble)))
    assert(got((2L, 3L)) == ((2L, (w(3) + w(2)).toDouble)))
    assert(got((1L, 3L)) == ((1L, w(3).toDouble)))
  }

  test("dpNoisyCounts: deterministic, noise bounded by the mechanism's finite tail") {
    import graft.ops.Privacy
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val a = Privacy.dpNoisyCounts(df, col("source"), 1.0, "s1").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    val b = Privacy.dpNoisyCounts(df, col("source"), 1.0, "s1").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(a == b, "same salt must redraw identically")
    // u ∈ [0.5e-4, 1-0.5e-4] → |noise| ≤ ln(1e4)/ε
    val bound = math.log(10000.0) / 1.0 + 1e-4
    for ((_, n, noisy) <- a) assert(math.abs(noisy - n) <= bound, s"|$noisy - $n| > $bound")
    val c = Privacy.dpNoisyCounts(df, col("source"), 1.0, "s2").collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(c.map(_._2) != a.map(_._3), "a fresh salt must redraw")
  }

  test("sentenceStats: terminators, empty docs, and terminator-free docs") {
    val df = Seq(
      (1L, "One two. Three four five! Six?"),
      (2L, ""),
      (3L, "no terminator at all"),
      (4L, "!!! ..."),
      (5L, "a. b. c. d.")
    ).toDF("doc_id", "text")
    val got = TextOps.sentenceStats(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3, 6L, 2.0)))
    assert(got(2L) == ((0, 0L, 0.0)))
    assert(got(3L) == ((1, 4L, 4.0)))
    assert(got(4L) == ((0, 0L, 0.0)))
    assert(got(5L) == ((4, 4L, 1.0)))
  }

  test("clusteringCoefficient: triangle-plus-pendant by hand") {
    import graft.ops.Graph
    // 1-2-3 triangle, 4 pendant on 1: cc(2)=cc(3)=1, cc(1)=1/3, cc(4)=0
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val got = Graph.clusteringCoefficient(e, col("s"), col("d"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 0.333333)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((2L, 1L, 1.0)))
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("readability: syllable proxy and score by hand, degenerate docs score 0") {
    val df = Seq(
      (1L, "The cat sat."),        // 3 words, 1 sent, syll: the=1 cat=1 sat=1
      (2L, ""),                     // all zero
      (3L, "rhythm myth"),          // no [aeiou] but y counts: rhythm=1, myth=1
      (4L, "beautiful onomatopoeia.") // beautiful: eau+i+u... vowel RUNS: b-eau-t-i-f-u-l = 3; onomatopoeia: o,o,a,o,oeia = 5
    ).toDF("doc_id", "text")
    val got = TextOps.readability(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(2L) == ((0, 0, 0L, 0.0)))
    // terminator-free doc is ONE sentence (2 words, 2 y-syllables):
    // 206.835 − 1.015·2 − 84.6·1 = 120.205
    assert(got(3L) == ((2, 1, 2L, 120.205)), s"terminator-free doc: ${got(3L)}")
    assert(got(1L)._1 == 3 && got(1L)._2 == 1 && got(1L)._3 == 3L)
    val expected1 = math.floor((206.835 - 1.015 * 3.0 - 84.6 * 1.0) * 10000 + 0.5) / 10000
    assert(got(1L)._4 == expected1)
    assert(got(4L)._3 == 8L, s"vowel-run syllables: ${got(4L)}")
  }

  test("dowProfile: complete grid with a silent day, Monday=0") {
    import graft.ops.EventAnalytics
    // 2024-01-01 is a Monday. Events on Mon(2), Tue(0 — absent), Wed(4);
    // span Mon..Wed so the grid has exactly one of each
    val ev = (Seq.fill(2)("2024-01-01 10:00:00") ++
      Seq.fill(4)("2024-01-03 10:00:00"))
      .map(s => Tuple1(java.sql.Timestamp.valueOf(s))).toDF("ts")
    val got = EventAnalytics.dowProfile(ev, col("ts"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0) == ((1L, 2L, 2.0)))
    assert(got(1) == ((1L, 0L, 0.0)), s"absent Tuesday must be a hard zero: $got")
    assert(got(2) == ((1L, 4L, 4.0)))
    assert(got.size == 3)
  }

  test("neymanAllocation: variable stratum takes the budget, constant stratum gets none") {
    import graft.ops.Pipeline
    // stratum a: values {0,10} (sd 5), 4 rows; stratum b: all 7 (sd 0), 100 rows
    val rows = (0 until 4).map(i => ("a", if (i % 2 == 0) 0L else 10L)) ++
      (0 until 100).map(_ => ("b", 7L))
    val got = Pipeline.neymanAllocation(rows.toDF("s", "x"), col("s"), col("x"), 50L)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got("a") == ((4L, 5.0, 50L)), s"all budget to the variable stratum: $got")
    assert(got("b") == ((100L, 0.0, 0L)))
    intercept[IllegalArgumentException] {
      Pipeline.neymanAllocation(rows.toDF("s", "x"), col("s"), col("x"), 0L)
    }
  }

  test("keepBestPerCluster: longest member survives, ties break on id, all members audited") {
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L))
      .toDF("node", "label")
    val metrics = Seq((10L, 5L), (11L, 9L), (12L, 9L), (20L, 3L))
      .toDF("id", "m")
    val got = Dedup.keepBestPerCluster(clusters, col("node"), col("label"),
      metrics, col("id"), col("m"))
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(11L) == ((1L, 9L, true)), "metric tie must break on smaller id")
    assert(got(12L) == ((1L, 9L, false)))
    assert(got(10L) == ((1L, 5L, false)))
    assert(got(20L) == ((2L, 3L, true)))
  }

  test("mmrTopK: lambda=1 is plain relevance; diversity penalty demotes a planted near-duplicate") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") =!= 0)
    val qv = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val topIds = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"), qv, 5)
      .collect().map(_.getLong(0)).toSeq
    val mmr1 = Similarity.mmrTopK(e, col("vec_id"), col("embedding"), qv,
      k = 5, nCand = 20, lambda = 1.0)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(mmr1 == topIds, s"lambda=1 must reduce to relevance order: $mmr1 vs $topIds")
    // plant an exact duplicate of the most relevant vector under a new id:
    // relevance ranks it adjacent to its twin; MMR must push it out of
    // the early picks (sim to the already-selected twin = 1.0)
    val best = topIds.head
    val dup = e.filter(col("vec_id") === best)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val withDup = e.unionByName(dup)
    val relIds = Similarity.bruteForceTopK(withDup, col("vec_id"), col("embedding"), qv, 2)
      .collect().map(_.getLong(0)).toSet
    assert(relIds == Set(best, 999999L), "duplicate must tie at the top by relevance")
    val mmrIds = Similarity.mmrTopK(withDup, col("vec_id"), col("embedding"), qv,
      k = 3, nCand = 20, lambda = 0.5)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(mmrIds.take(2).count(Set(best, 999999L)) == 1,
      s"MMR must not take both copies early: $mmrIds")
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(e, col("vec_id"), col("embedding"), qv, 5, 20, 0.0)
    }
  }

  test("zipfSlope: exact geometric corpus fits its known slope; real corpus slopes negative") {
    // counts 16,8,4,2 at ranks 1..4: y = ln16 − ln2·(log2 rank)… not linear
    // in ln(rank), so fit via the op's own exact recipe mirrored here
    val words = Seq("a" -> 16, "b" -> 8, "c" -> 4, "d" -> 2)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = TextOps.zipfSlope(df, col("text"), topN = 4).head()
    assert(got.getLong(0) == 4)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val xs = (1 to 4).map(r => r6(math.log(r.toDouble)))
    val ys = Seq(16, 8, 4, 2).map(c => r6(math.log(c.toDouble)))
    val (sx, sy) = (xs.map(BigDecimal(_)).sum, ys.map(BigDecimal(_)).sum)
    val sxy = xs.zip(ys).map { case (x, y) => BigDecimal(r6(x * y)) }.sum
    val sxx = xs.map(x => BigDecimal(r6(x * x))).sum
    val n = 4.0
    val exp = r6((n * sxy.toDouble - sx.toDouble * sy.toDouble)
      / (n * sxx.toDouble - sx.toDouble * sx.toDouble))
    assert(got.getDouble(1) == exp, s"${got.getDouble(1)} vs $exp")
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val slope = TextOps.zipfSlope(corpus, col("text"), 100).head().getDouble(1)
    assert(slope < 0.0, s"rank-frequency slope must be negative: $slope")
  }

  test("heapsLaw: saturated vocab fits beta 0, fully-novel vocab fits beta 1 exactly") {
    import graft.ops.TextOps
    // saturation: every doc repeats the same 3 bigrams -> cumulative
    // vocab constant -> y constant -> OLS slope exactly 0
    val flat = (0L until 40L).map(i => (i, "a b a b c")).toDF("doc_id", "text")
    val f = TextOps.heapsLaw(flat, col("doc_id"), col("text")).head()
    assert(f.getLong(0) == 64 && f.getDouble(1) == 0.0, s"saturated: $f")
    // pure novelty: doc i contributes exactly one never-seen bigram ->
    // cumulative vocab == cumulative grams -> y == x -> beta 1, lnK 0
    val novel = (0L until 64L).map(i => (i, s"x$i y$i")).toDF("doc_id", "text")
    val g = TextOps.heapsLaw(novel, col("doc_id"), col("text")).head()
    assert(g.getLong(0) == 64 && g.getDouble(1) == 1.0 && g.getDouble(2) == 0.0,
      s"novel: $g")
    // real corpus: beta strictly inside (0, 1)
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val beta = TextOps.heapsLaw(corpus, col("doc_id"), col("text"))
      .head().getDouble(1)
    assert(beta > 0.0 && beta < 1.0, s"corpus beta: $beta")
  }

  test("interleaveByWeight: every prefix holds sources in weight proportion") {
    import graft.ops.Pipeline
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Pipeline.interleaveByWeight(docs, col("doc_id"), col("source"),
      Map("src0" -> 3, "src1" -> 2), salt = "il")
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    // pos is a permutation of 1..N
    assert(out.map(_._3).toSeq == (1L to out.length.toLong).toSeq)
    // the fin<=1 prefix holds EXACTLY w_s rows of each source: the WFQ
    // guarantee that stopping early consumes every source in proportion
    val nSources = docs.select("source").distinct().count().toInt
    val prefixLen = 3 + 2 + (nSources - 2) * 1
    val prefix = out.take(prefixLen).groupBy(_._2).map { case (s, a) => s -> a.length }
    assert(prefix("src0") == 3 && prefix("src1") == 2)
    assert(prefix.count { case (s, n) => n == 1 } == nSources - 2, s"$prefix")
    // deterministic replay
    val again = Pipeline.interleaveByWeight(docs, col("doc_id"), col("source"),
      Map("src0" -> 3, "src1" -> 2), salt = "il")
      .orderBy(col("pos")).collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(again.toSeq == out.map(t => (t._1, t._3)).toSeq)
  }

  test("collocations: a planted rigid phrase outranks independent co-occurrence") {
    // "zqx yvw" always adjacent (20×); "aaa"/"bbb" frequent but never adjacent
    val docs = (0 until 20).map(i => (i.toLong, "zqx yvw aaa mid bbb")) ++
      Seq((100L, "aaa bbb aaa bbb aaa bbb"))
    val df = docs.toDF("doc_id", "text")
    val got = TextOps.collocations(df, col("text"), minCount = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(got.contains(("zqx", "yvw")))
    assert(got(("zqx", "yvw")) > got(("aaa", "bbb")),
      s"rigid phrase must outscore loose pair: $got")
  }

  test("olsByGroup: exact line recovered, degenerate groups NULL") {
    val df = ((0 to 4).map(x => ("a", x.toDouble, 2.0 * x + 1.0)) ++
      Seq(("b", 3.0, 1.0), ("b", 3.0, 9.0), // var(x)=0
        ("c", 1.0, 1.0))) // n=1
      .toDF("g", "x", "y")
    val got = graft.ops.Profile.olsByGroup(df, col("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getDouble(2) == 2.0 && a.getDouble(3) == 1.0 && a.getDouble(4) == 1.0,
      s"perfect line must fit exactly: $a")
    assert(got("b").isNullAt(2) && got("c").isNullAt(2),
      "zero-variance x and n=1 must yield NULL fits")
  }

  test("ksTwoSample: hand ECDFs, ties applied before comparison") {
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 3.0, 4.0).map(("b", _)))
      .toDF("s", "v")
    val r = graft.ops.Profile.ksTwoSample(df,
      col("s") === "a", col("s") === "b", col("v")).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 3.0, s"d_num: $r") // max |cumA·3 − cumB·3| = 3
    assert(r.getDouble(3) == 0.33333333, s"ks8: $r")
    // identical samples → D = 0
    val same = graft.ops.Profile.ksTwoSample(df, lit(true), lit(true), col("v")).head()
    assert(same.getDouble(3) == 0.0)
  }

  test("diffInDiff: hand cells — (3−1) − (2.5−2) = 1.5") {
    val df = Seq(
      (true, false, 1.0), (true, false, 1.0),
      (true, true, 3.0), (true, true, 3.0),
      (false, false, 2.0), (false, false, 2.0),
      (false, true, 2.0), (false, true, 3.0))
      .toDF("t", "p", "y")
    val r = graft.ops.EventAnalytics.diffInDiff(df, col("t"), col("p"), col("y")).head()
    assert((0 to 3).forall(r.getLong(_) == 2L), s"cell counts: $r")
    assert(r.getDouble(8) == 1.5, s"did8: $r")
  }

  test("neighborJaccard: shared/union by hand, oversize groups excluded from both sides") {
    // eligible: g1={a,b,c}, g2={a,b}; g3={a} too small; g4 oversize (cap 3)
    val df = (Seq(("g1", "a"), ("g1", "b"), ("g1", "c"),
      ("g2", "a"), ("g2", "b"), ("g3", "a")) ++
      (0 until 5).map(i => ("g4", s"x$i")))
      .toDF("g", "i")
    val got = graft.ops.Graph.neighborJaccard(df, col("g"), col("i"),
        minShared = 1, maxItemsPerGroup = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // deg(a)=2 (g1,g2), deg(b)=2, deg(c)=1; (a,b): shared 2, union 2
    assert(got(("a", "b")) == ((2L, 2L, 1.0)), s"$got")
    assert(got(("a", "c")) == ((1L, 2L, 0.5)) && got(("b", "c")) == ((1L, 2L, 0.5)))
    assert(!got.keySet.exists(_._1.startsWith("x")), "capped group must not pair")
  }

  test("mrrRecallAtK: first-relevant rank and top-k hits by hand") {
    val df = Seq(
      (1L, 10L, 5.0, false), (1L, 11L, 4.0, false), (1L, 12L, 3.0, true),
      (1L, 13L, 2.0, false), (1L, 14L, 1.0, true),
      (2L, 20L, 9.0, false), (2L, 21L, 8.0, false))
      .toDF("q", "d", "s", "r")
    val got = graft.ops.Retrieval.mrrRecallAtK(df, col("q"), col("d"),
        col("s"), col("r"), k = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    val q1 = got(1L)
    assert(q1.getLong(2) == 2 && q1.getInt(3) == 3, s"n_rel/first_rank: $q1")
    assert(q1.getDouble(4) == 0.33333333 && q1.getLong(5) == 0 &&
      q1.getDouble(6) == 0.0, s"rr/hits/recall: $q1")
    val q2 = got(2L) // no relevant docs → counted with NULL metrics
    assert(q2.getLong(2) == 0 && q2.isNullAt(3) && q2.isNullAt(4) && q2.isNullAt(6))
  }

  test("kneserNeyLogProb: hand LM — discount plus continuation mass, probs sum to 1") {
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.kneserNeyLogProb(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // P(b|a) = (2−.75)/3 + .75·(2/3)·(1/2) = 2/3; P(c|a) = .25/3 + .25 = 1/3
    assert(got(1L) == ((1L, math.floor(math.log(2.0 / 3) * 10000 + 0.5) / 10000)))
    assert(got(1L) == got(2L))
    assert(got(3L) == ((1L, math.floor(math.log(1.0 / 3) * 10000 + 0.5) / 10000)))
    assert(got(4L) == ((0L, 0.0)), "sub-bigram doc scores 0 with 0 bigrams")
  }

  test("benjaminiHochberg: hand step-up case, step-down holes included, none-reject NULLs") {
    val s = 4503599627370496L // 2^52
    def pi(p: Double) = (p * s).toLong
    // q=1/2, m=4 → thresholds .125/.25/.375/.5: ranks 1,2 reject, 3,4 not
    val df = Seq((1L, pi(0.1)), (2L, pi(0.2)), (3L, pi(0.6)), (4L, pi(0.9)))
      .toDF("hid", "p")
    val r = graft.ops.Profile.benjaminiHochberg(df, col("hid"), col("p"), 1, 2).head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 2 &&
      r.getDouble(2) == pi(0.2).toDouble / s, s"$r")
    // step-up: rank 1 fails its own threshold (.3 > .125) but rank 2
    // holds (.3 <= .25? no — use .2,.24: p1=.2>.125, p2=.24<=.25) →
    // BOTH reject (everything at or below kmax)
    val df2 = Seq((1L, pi(0.2)), (2L, pi(0.24)), (3L, pi(0.9)), (4L, pi(0.95)))
      .toDF("hid", "p")
    val r2 = graft.ops.Profile.benjaminiHochberg(df2, col("hid"), col("p"), 1, 2).head()
    assert(r2.getLong(1) == 2, s"step-up must sweep rank 1 in: $r2")
    val none = Seq((1L, pi(0.8)), (2L, pi(0.9))).toDF("hid", "p")
    val r3 = graft.ops.Profile.benjaminiHochberg(none, col("hid"), col("p"), 1, 2).head()
    assert(r3.getLong(1) == 0 && r3.isNullAt(2), s"$r3")
  }

  test("MisraGries: dominant item survives with a valid two-sided certificate") {
    val rows = Seq.fill(60)("a") ++ Seq.fill(25)("b") ++
      (1 to 30).map(i => s"x$i")
    val df = rows.toDF("w")
    val got = graft.ops.Sketches.mgHeavyHitters(df, col("w"), k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= 4)
    val n = rows.size.toLong
    val sumC = got.values.sum
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((i, c) <- got) {
      assert(c <= truth(i), s"MG must underestimate: $i $c vs ${truth(i)}")
      assert(truth(i) * 5 <= c * 5 + (n - sumC),
        s"upper certificate broken for $i: $got")
    }
    // coverage: items above the slack must be reported
    for ((i, t) <- truth if t * 5 > n - sumC)
      assert(got.contains(i), s"heavy item $i (true $t) missing: $got")
    assert(got.contains("a") && got.contains("b"))
  }

  test("BpeEncode expression: eval parity with the applyMerge fold, overlap rule") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val merges = Seq(("a", "a"), ("aa", "b"), ("c", "d"))
    val flat = merges.flatMap { case (l, r) => Seq(l, r) }
    def native(w: String): Seq[String] = {
      val e = graft.functions.BpeEncode(Literal.create(w, StringType),
        Literal.create(flat, ArrayType(StringType)))
      val a = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
    def fold(w: String): Seq[String] = {
      val c = merges.foldLeft(split(lit(w), ""): org.apache.spark.sql.Column) {
        case (acc, (l, r)) => graft.ops.Bpe.applyMerge(acc, l, r)
      }
      spark.range(1).select(c.as("s")).head().getSeq[String](0)
    }
    for (w <- Seq("aaa", "aaaa", "aab", "aaab", "cdcd", "xyz", "a", "acda"))
      assert(native(w) == fold(w), s"parity broken on '$w': ${native(w)} vs ${fold(w)}")
    assert(native("aaa") == Seq("aa", "a") && native("aaaa") == Seq("aa", "aa"))
  }

  test("wordPieceEncode: greedy longest match, ## continuations, whole-word UNK") {
    val vocab = Seq("un", "##aff", "##able", "##ffa", "u", "n", "hello", "##o", "b")
    val long = "x" * 101
    val df = Seq((1L, s"unaffable hello bz $long")).toDF("id", "text")
    val out = graft.ops.Bpe.wordPieceEncode(df, col("text"), vocab)
      .head().getSeq[String](2)
    assert(out == Seq("un", "##aff", "##able", "hello", "[UNK]", "[UNK]"),
      s"got $out")
    // interpreted (non-codegen) eval agrees with the codegen path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val expr = graft.functions.WordPieceEncode(
      Literal.create("unaffable", StringType),
      Literal.create(vocab, ArrayType(StringType)))
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until interp.numElements()).map(interp.getUTF8String(_).toString)
      == Seq("un", "##aff", "##able"))
  }

  test("asofJoinNearest: direction, tolerance, and backward tie-break by hand") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, t("2024-01-01 10:00:00"), 100L),
      (1L, t("2024-01-01 12:00:00"), 101L),
      (1L, t("2024-01-01 23:00:00"), 102L),
      (2L, t("2024-01-01 10:00:00"), 103L))
      .toDF("k", "ts", "lid")
    val r = Seq((1L, t("2024-01-01 09:30:00"), "b1"),
      (1L, t("2024-01-01 12:20:00"), "f1"),
      (2L, t("2024-01-01 09:00:00"), "eq"), (2L, t("2024-01-01 11:00:00"), "eq2"))
      .toDF("k", "ts", "tag")
    val got = graft.ops.TemporalJoin.asofJoinNearest(l, r, "k", "ts",
        Seq("tag"), toleranceMicros = 3600L * 1000000)
      .collect().map(x => x.getLong(2) -> Option(x.getString(3))).toMap
    assert(got(100L) == Some("b1"), s"backward within 30min: $got")
    assert(got(101L) == Some("f1"), s"forward 20min beats backward 2h30: $got")
    assert(got(102L) == None, "nothing within 1h tolerance")
    assert(got(103L) == Some("eq"), s"equal 1h distances tie backward: $got")
  }

  test("degreeAssortativity: star graph r = -1, regular graph NULL") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val rs = graft.ops.Graph.degreeAssortativity(star, col("a"), col("b")).head()
    assert(rs.getLong(0) == 3 && rs.getLong(1) == 4 && rs.getDouble(2) == -1.0, s"$rs")
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("a", "b")
    val rc = graft.ops.Graph.degreeAssortativity(cycle, col("a"), col("b")).head()
    assert(rc.isNullAt(2), s"uniform degrees must NULL r: $rc")
  }

  test("scriptProfile: mixed-script doc counted per class, empty doc dropped") {
    val df = Seq((1L, "abc кир 漢 12"), (2L, "")).toDF("doc_id", "t")
    val rows = graft.ops.TextOps.scriptProfile(df, col("doc_id"), col("t")).collect()
    assert(rows.length == 1, "empty doc must drop")
    val r = rows(0)
    assert(r.getLong(1) == 12 && r.getLong(2) == 3 && r.getLong(3) == 3 &&
      r.getLong(4) == 1 && r.getLong(8) == 2, s"$r") // latin cyr cjk digit
    assert(r.getDouble(9) == 0.25 && r.getDouble(11) == 0.0833, s"$r")
  }

  test("blockingQuality: per-block products, moved entity costs completeness") {
    val a = Seq((1L, "ab"), (2L, "ac"), (3L, "zz")).toDF("k", "n")
    val b = Seq((1L, "ab"), (2L, "ac"), (3L, "xz")).toDF("k", "n")
    val truth = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("ta", "tb")
    val r = graft.ops.Linkage.blockingQuality(
      a, col("k"), substring(col("n"), 1, 1),
      b, col("k"), substring(col("n"), 1, 1),
      truth, col("ta"), col("tb")).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 4.0, s"candidates: $r") // block 'a': 2×2
    assert(r.getLong(3) == 3 && r.getLong(4) == 2, s"truth/covered: $r")
    assert(r.getDouble(5) == 0.555556 && r.getDouble(6) == 0.666667, s"$r")
  }

  test("psiDrift: identical distributions score 0, a planted shift scores > 0.25") {
    val same = (Seq.fill(5)(("r", 1L)) ++ Seq.fill(5)(("c", 1L)) ++
      Seq.fill(5)(("r", 2L)) ++ Seq.fill(5)(("c", 2L))).toDF("s", "b")
    val r0 = graft.ops.Profile.psiDrift(same,
      col("s") === "r", col("s") === "c", col("b")).head()
    assert(r0.getLong(0) == 2 && r0.getDouble(3) == 0.0, s"$r0")
    val shifted = (Seq.fill(50)(("r", 1L)) ++ Seq.fill(5)(("c", 1L)) ++
      Seq.fill(5)(("r", 2L)) ++ Seq.fill(50)(("c", 2L))).toDF("s", "b")
    val r1 = graft.ops.Profile.psiDrift(shifted,
      col("s") === "r", col("s") === "c", col("b")).head()
    assert(r1.getDouble(3) > 0.25, s"major shift must cross the act threshold: $r1")
  }

  test("powerTwoProportions: closed form over the published 6-dp rate") {
    val df = (1 to 100).map(u => (u.toLong, u <= 10)).toDF("u", "c")
    val r = graft.ops.EventAnalytics.powerTwoProportions(
      df, col("u"), col("c"), mdeAbs = 0.02).head()
    assert(r.getLong(0) == 100 && r.getLong(1) == 10)
    assert(r.getDouble(2) == 0.1 && r.getDouble(3) == 0.1 + 0.02)
    val z = 1.959964 + 0.841621
    val expected = math.ceil(z * z * (0.1 * 0.9 + 0.12 * (1.0 - 0.12))
      / (0.02 * 0.02)).toLong
    assert(r.getLong(4) == expected, s"n_per_arm: $r vs $expected")
  }

  test("modularity: two disjoint triangles labeled by component → Q = 0.5") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (11L, 12L), (12L, 13L), (11L, 13L))
      .toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 11L, 12L, 13L).toDF("n")
    val got = graft.ops.Graph.modularity(e, col("a"), col("b"),
        nodes, col("n"), when(col("n") < 10, 0L).otherwise(1L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(0L) == ((3L, 6L, 0.25)) && got(1L) == ((3L, 6L, 0.25)), s"$got")
    // same graph labeled all-one-community: Q = m/m − 1 = 0
    val one = graft.ops.Graph.modularity(e, col("a"), col("b"),
      nodes, col("n"), lit(0L)).head()
    assert(one.getDouble(3) == 0.0, s"$one")
  }

  test("welchTTest: hand samples match the closed form; degenerate side NULLs") {
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0).map(("b", _))).toDF("s", "v")
    val r = graft.ops.Profile.welchTTest(df,
      col("s") === "a", col("s") === "b", col("v")).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 4)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 5.0)
    val (va, vb) = (1.0 / 3, (20.0 / 3) / 4)
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) == f6((2.0 - 5.0) / math.sqrt(va + vb)), s"$r")
    assert(r.getDouble(5) ==
      f6((va + vb) * (va + vb) / (va * va / 2 + vb * vb / 3)), s"$r")
    val degen = graft.ops.Profile.welchTTest(df,
      col("s") === "a", col("v") === 8.0, col("v")).head()
    assert(degen.isNullAt(4) && degen.isNullAt(5), "n_b=1 must NULL the test")
  }

  test("maintainRollup: delta algebra equals from-scratch rollup, emptied group drops") {
    val base = Seq((1L, "aa"), (2L, "bbb"), (3L, "c"), (8L, "dd"))
      .toDF("k", "t")
    // k=1 updated twice (latest wins), k=3 deleted (group 3 mod 7 empties),
    // k=9 inserted, k=8 delete-then-resurrect
    val changes = Seq(
      (1L, "xxxx", 2L, "U"), (1L, "yy", 1L, "U"),
      (3L, "", 1L, "D"),
      (9L, "zzzzz", 1L, "I"),
      (8L, "", 1L, "D"), (8L, "e", 2L, "I"))
      .toDF("k", "t", "seq", "op")
    val maintained = graft.ops.LakeOps.maintainRollup(base, changes,
      "k", "seq", "op", col("k") % 7, Seq("len" -> length(col("t")).cast("long")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = graft.ops.LakeOps.cdcApply(base, changes, "k", "seq", "op")
    val scratch = merged.groupBy((col("k") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum(length(col("t")).cast("long")).as("len"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(maintained == scratch, s"maintained $maintained vs scratch $scratch")
    assert(!maintained.contains(3L), "emptied group must drop out")
    assert(maintained(1L) == ((2L, 5L))) // grp 1 = k1 "xxxx"(4) + k8 "e"(1)
  }

  test("holtWintersDaily: constant series is a fixpoint; planted weekly dip learned") {
    val rows = for (d <- 1 to 21; k <- 1 to 3)
      yield (f"2024-01-$d%02d 06:0$k:00", 1L)
    val df = rows.toDF("t", "x").select(col("t").cast("timestamp").as("ts"))
    val got = graft.ops.EventAnalytics.holtWintersDaily(df, col("ts")).collect()
    assert(got.length == 14)
    got.foreach { r =>
      assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 0.0 &&
        r.getDouble(4) == 0.0 && r.getDouble(5) == 3.0, s"fixpoint broken: $r")
    }
    // weekly dip: day 7/14/21 have 1 event, others 3 — the dip day's
    // seasonal component must be clearly negative, flat days near 0
    val dip = for (d <- 1 to 28; k <- 1 to (if (d % 7 == 0) 1 else 3))
      yield (f"2024-01-$d%02d 06:0$k:00", 1L)
    val df2 = dip.toDF("t", "x").select(col("t").cast("timestamp").as("ts"))
    val last = graft.ops.EventAnalytics.holtWintersDaily(df2, col("ts"))
      .collect().takeRight(7)
    val dipSeas = last.find(_.getLong(1) == 1).get.getDouble(4)
    val flatSeas = last.filter(_.getLong(1) == 3).map(r => math.abs(r.getDouble(4)))
    assert(dipSeas < -1.0, s"dip seasonal must be strongly negative: $dipSeas")
    assert(flatSeas.forall(_ < 0.7), s"flat-day seasonals near 0: ${flatSeas.toSeq}")
  }

  test("seasonalDecompose: constant series → trend = y, seasonal = resid = 0 inside") {
    val rows = for (d <- 1 to 14; k <- 1 to 2)
      yield (f"2024-01-$d%02d 06:0$k:00", 1L)
    val df = rows.toDF("t", "x").select(col("t").cast("timestamp").as("ts"))
    val got = graft.ops.EventAnalytics.seasonalDecompose(df, col("ts"))
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2),
          if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(got.size == 14)
    assert(got("2024-01-01") == ((2L, null, null)), "edge days have no full window")
    assert(got("2024-01-07") == ((2L, 2.0, 0.0)), s"${got("2024-01-07")}")
    assert(got("2024-01-10") == ((2L, 2.0, 0.0)))
  }

  test("quantile sketch: exact bottom-k state, layout-independent, rollup == direct, DKW-bounded") {
    import graft.ops.Sketches
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val k = 128
    val key = col("l_orderkey") * 10 + col("l_linenumber")
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select(explode(col("qs")).as("p"))
        .select(col("p._1"), col("p._2")).as[(Long, Double)].collect().toSeq
    // the sketch is a pure function of the row set: exactly the k
    // lexicographically-smallest (hash, value) pairs, any layout
    val expected = li
      .select(Sketches.kmvHash(key, "qt").as("h"),
        col("l_extendedprice").cast("double").as("v"))
      .distinct().orderBy("h", "v").limit(k).as[(Long, Double)].collect().toSeq
    def sk(df: org.apache.spark.sql.DataFrame) = Sketches.quantileSketchPerGroup(
      df, lit("all"), col("l_extendedprice"), key, k, "qt")
    assert(pairs(sk(li)) == expected)
    assert(pairs(sk(li.repartition(17, col("l_suppkey")))) == expected)
    // rollup of per-month sketches is BIT-identical to the direct build
    // (union closure) — the lake property e14 gates
    val perMonth = Sketches.quantileSketchPerGroup(li,
      date_format(col("l_shipdate"), "yyyy-MM"), col("l_extendedprice"), key, k, "qt")
    val rolled = Sketches.quantileSketchRollup(perMonth, lit("all"), k)
    assert(pairs(rolled) == expected)
    assert(rolled.select("n").as[Long].head() == li.count())
    // pairwise merge over a disjoint row split == direct build (the
    // incremental-maintenance form; scopes align on the group key)
    val evens = li.filter(col("l_orderkey") % 2 === 0)
    val odds = li.filter(col("l_orderkey") % 2 === 1)
    val merged = Sketches.quantileSketchMerge(
      sk(evens), sk(odds), k)
    assert(pairs(merged) == expected)
    assert(merged.select("n").as[Long].head() == li.count())
    // DKW rank error: the sampled p50/p90 sit within eps of their true
    // ranks at delta = 1% (deterministic given the md5 hashes — measured
    // once, holds forever)
    val q = Sketches.quantileSketchQuery(sk(li),
      Seq(("p50", 1, 2), ("p90", 9, 10))).head()
    val (n, m) = (q.getLong(1), q.getLong(3))
    assert(m == k)
    val eps = math.sqrt(math.log(2 / 0.01) / (2.0 * m))
    for ((p, idx) <- Seq(0.5 -> 4, 0.9 -> 5)) {
      val v = q.getDouble(idx)
      val rank = li.filter(col("l_extendedprice").cast("double") <= v).count()
        .toDouble / n
      assert(math.abs(rank - p) <= eps, s"p=$p sampled-rank=$rank eps=$eps")
    }
    // single-row group: the only value answers every quantile
    val one = Sketches.quantileSketchQuery(
      sk(li.limit(1)), Seq(("p50", 1, 2))).head()
    assert(one.getLong(3) == 1L && one.getDouble(4) == li.limit(1)
      .select(col("l_extendedprice").cast("double")).as[Double].head())
  }

  test("sketch merges/rollups REFUSE a smaller-k input (k is enforced from the state)") {
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val df = spark.range(0, 500).select(
      (col("id") % 3).cast("string").as("g"), col("id"))
    val q16 = graft.ops.Sketches.quantileSketchPerGroup(
      df, col("g"), col("id"), col("id"), 16, "kk")
    val q32 = graft.ops.Sketches.quantileSketchPerGroup(
      df, col("g"), col("id"), col("id"), 32, "kk")
    // merging at 32 with a 16-built input must RAISE, not silently bias
    val e1 = intercept[Throwable] {
      graft.ops.Sketches.quantileSketchMerge(q32, q16, 32).collect()
    }
    assert(msgChain(e1).contains("smaller"), msgChain(e1))
    val e2 = intercept[Throwable] {
      graft.ops.Sketches.quantileSketchRollup(q16, lit("all"), 32).collect()
    }
    assert(msgChain(e2).contains("smaller"), msgChain(e2))
    val k16 = graft.ops.Sketches.kmvSketchPerGroup(df, col("g"), col("id"), 16, "kk")
    val k32 = graft.ops.Sketches.kmvSketchPerGroup(df, col("g"), col("id"), 32, "kk")
    val e3 = intercept[Throwable] {
      graft.ops.Sketches.kmvMergeSketches(k32, k16, 32).collect()
    }
    assert(msgChain(e3).contains("smaller"), msgChain(e3))
    // compatible inputs pass: input k >= merge k (wider is fine), and
    // the output state carries the MERGE's k
    val down = graft.ops.Sketches.kmvMergeSketches(k32, k32, 16)
    assert(down.select("k").distinct().collect().map(_.getInt(0)).toSeq == Seq(16))
    assert(down.count() == 3)
  }

  test("labelPropagation: deterministic min-tie communities, layout-independent, Q beats trivial") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (11L, 12L), (12L, 13L), (11L, 13L))
      .toDF("a", "b")
    def labs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Graph.labelPropagation(df, col("a"), col("b"), rounds = 3)
        .as[(Long, Long)].collect().toMap
    val got = labs(e)
    // each triangle collapses to its min id by round 2 (synchronous
    // adopt-most-frequent, ties to the smallest label)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L), s"$got")
    assert(labs(e.repartition(7, col("b"))) == got, "layout-independent")
    // modularity of the LPA partition beats the trivial
    // every-node-its-own partition (g16's spec-level property)
    val nodes = Seq(1L, 2L, 3L, 11L, 12L, 13L).toDF("n")
    def q(labels: org.apache.spark.sql.DataFrame, node: org.apache.spark.sql.Column,
        community: org.apache.spark.sql.Column) =
      graft.ops.Graph.modularity(e, col("a"), col("b"), labels, node, community)
        .agg(sum(col("term8"))).as[Double].head()
    val lpaQ = q(graft.ops.Graph.labelPropagation(e, col("a"), col("b"), 3),
      col("node"), col("community"))
    val trivialQ = q(nodes, col("n"), col("n"))
    assert(lpaQ == 0.5 && trivialQ < 0.0, s"lpa Q=$lpaQ trivial Q=$trivialQ")
  }

  /** Ids of the RDDs the SparkContext holds persisted. */
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("iterative ops release superseded localCheckpoint blocks (Ckpt ladder)") {
    // Dataset.unpersist is a no-op for checkpoint storage, so an
    // iterative op that checkpoints per round without releasing the
    // superseded round leaks one dead RDD per round per invocation —
    // measured as monotone slowdown across back-to-back invocations
    // (round-16 optimization). Each op here must leave persisted only
    // the checkpoints its RESULT reads.
    import graft.ops.{Bpe, Closure, Graph}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (11L, 12L))
      .toDF("a", "b")
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val ids = (1L to 12L).toDF("id")
    val xy = e.select(col("a").as("x"), col("b").as("y"))
    val sd = e.select(col("a").as("src"), col("b").as("dst"))
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "x a b c d e f g h y"),
      (3L, "the cat sat on the mat the cat sat")).toDF("doc_id", "text")
    val words = Seq((1L, "low lower lowest newer newest wider widest news")).toDF("doc_id", "text")
    def persistedDelta(f: => DataFrame): Int = {
      val before = persistedIds
      val out = f
      out.write.mode("overwrite").format("noop").save()
      // drop the result's own checkpoints too
      graft.ops.Ckpt.rddsOf(out).foreach(_.unpersist(blocking = false))
      (persistedIds -- before).size
    }
    val leaked = Seq[(String, () => DataFrame)](
      "pageRank" -> (() => Graph.pageRank(e, col("a"), col("b"), iterations = 4)),
      "hits" -> (() => Graph.hits(e, col("a"), col("b"), iterations = 3)),
      "kHopDistance" -> (() => Graph.kHopDistance(e, col("a"), col("b"), Seq(1L), 4)),
      "kCore" -> (() => Graph.kCore(tri, col("a"), col("b"), k = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(e, col("a"), col("b"), rounds = 4)),
      "connectedComponentsStar" -> (() =>
        Graph.connectedComponentsStar(xy, col("x"), col("y"), ids, col("id"))),
      "transitive" -> (() => Closure.transitive(sd)),
      "fromSeeds" -> (() => Closure.fromSeeds(sd, Seq(1L).toDF("src"))),
      "connectedComponents" -> (() =>
        Dedup.connectedComponents(xy, col("x"), col("y"), ids, col("id"))),
      "longestDuplicatedSpans" -> (() =>
        Dedup.longestDuplicatedSpans(docs, col("doc_id"), col("text"), minLen = 2, maxLen = 8)),
      // the merge table is a local frame: every word-table checkpoint
      // (numMerges + 1 of them) must go
      "learnMerges" -> (() => Bpe.learnMerges(words, col("text"), numMerges = 6)),
      "learnWordPieceMerges" -> (() => Bpe.learnWordPieceMerges(words, col("text"), numMerges = 6))
    ).map { case (op, f) => op -> persistedDelta(f()) }.filter(_._2 != 0)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("Ckpt: an op never releases the caller's checkpointed input") {
    import graft.ops.{Closure, Graph}
    val tc = Closure.transitive(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"))
    val owned = graft.ops.Ckpt.rddsOf(tc).map(_.id).toSet
    assert(owned.nonEmpty)
    Graph.pageRank(tc, col("src"), col("dst"), iterations = 3).collect()
    Graph.hits(tc, col("src"), col("dst"), iterations = 2).collect()
    Graph.labelPropagation(tc, col("src"), col("dst"), rounds = 2).collect()
    assert(owned.subsetOf(persistedIds), "a caller-owned checkpoint was released")
    assert(tc.count() == 9)
    graft.ops.Ckpt.rddsOf(tc).foreach(_.unpersist(blocking = false))
  }

  test("Ckpt.run: a step that throws in round 2 releases every checkpoint and rethrows it") {
    import graft.ops.Ckpt
    val before = persistedIds
    val boom = new IllegalStateException("round 2 failed")
    val thrown = intercept[IllegalStateException] {
      Ckpt.run { loop =>
        val init = loop.checkpoint(spark.range(10).toDF("x"))._1
        loop.rounds(init, 4) { (s, round) =>
          val next = loop.checkpoint(s.select((col("x") + 1).as("x")))._1
          if (round == 2) throw boom
          next
        }
      }
    }
    assert(thrown eq boom, "the caller must see the step's own exception")
    assert((persistedIds -- before).isEmpty, "a failed loop left checkpoints behind")
  }

  test("pageRank: a seed that is not a node throws and leaves no cached frame") {
    // the node set is cached and counted before the seed check runs
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // private[sql] in Scala, a public method in bytecode
    def cached = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = cached
    val e = intercept[IllegalArgumentException] {
      graft.ops.Graph.pageRank(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        col("src"), col("dst"), iterations = 2, seeds = Seq(99L))
    }
    assert(e.getMessage == "requirement failed: pageRank: seed(s) 99 are not nodes of " +
      "the edge-derived graph — their teleport mass would be dropped")
    assert(cached == before, "a failed pageRank left frames cached")
  }

  test("connectedComponents: an exhausted maxRounds throws and leaves no checkpoint") {
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L to 64L).toDF("doc_id")
    val before = persistedIds
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, col("id_a"), col("id_b"), ids, col("doc_id"),
        maxRounds = 1)
    }
    assert(e.getMessage == "requirement failed: connectedComponents did not converge within 1 rounds")
    assert((persistedIds -- before).isEmpty, "an unconverged loop left checkpoints behind")
  }

  test("connectedComponents: convergence costs no job outside the round checkpoints") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    /** (checkpoint actions, their jobs, jobs of any other action) while
      * one call runs: the listener files each job under its SQL
      * execution's call site until a marker job started after the call
      * reaches it. */
    def jobs(pathLength: Long): (Int, Int, Int) = {
      val pairs = (0L until pathLength).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val ids = (0L to pathLength).toDF("doc_id")
      val sc = spark.sparkContext
      val site = new java.util.concurrent.ConcurrentHashMap[String, String]
      val ckptExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]
      val (inCkpt, other) =
        (new java.util.concurrent.atomic.AtomicInteger, new java.util.concurrent.atomic.AtomicInteger)
      val marker = new java.util.concurrent.CountDownLatch(1)
      val l = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => site.put(s.executionId.toString, s.description)
          case _ =>
        }
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val p = j.properties
          if (p.getProperty("spark.job.description") == "marker") marker.countDown()
          else Option(p.getProperty("spark.sql.execution.id")) match {
            case Some(x) if site.getOrDefault(x, "").startsWith("localCheckpoint at") =>
              ckptExecs.add(x); inCkpt.incrementAndGet()
            case _ => other.incrementAndGet()
          }
        }
      }
      sc.addSparkListener(l)
      try {
        Dedup.connectedComponents(pairs, col("id_a"), col("id_b"), ids, col("doc_id"))
        sc.setJobDescription("marker")
        try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
        assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally sc.removeSparkListener(l)
      (ckptExecs.size, inCkpt.get, other.get)
    }
    val (ckShort, inShort, otherShort) = jobs(2)
    val (ckLong, inLong, otherLong) = jobs(64)
    assert(ckLong > ckShort, s"the long path should need more rounds: $ckShort vs $ckLong")
    assert(otherLong == otherShort,
      s"jobs outside the checkpoints grew with the rounds: $otherShort → $otherLong " +
        s"(checkpoint actions $ckShort → $ckLong, their jobs $inShort → $inLong)")
  }

  test("ivfUpsert: exact argmin matches k-means' own assignments, covers all rows, layout-independent") {
    import graft.ops.Similarity
    val all = OpsQueries.clusteredEmb(spark, n = 400, dim = 16, centers = 8)
    val base = all.filter(col("vec_id") % 10 =!= 0)
    val delta = all.filter(col("vec_id") % 10 === 0)
    val idx = Similarity.buildIvf(base, col("vec_id"), col("embedding"), nLists = 8)
    val up = Similarity.ivfUpsert(idx, delta, col("vec_id"), col("embedding"))
    assert(up.assigned.count() == all.count())
    assert(up.assigned.select("vec_id").distinct().count() == all.count())
    // the exact left-fold argmin reproduces KMeans.transform on the base
    // (pins that ivfAssign implements the SAME rule the fit used)
    val re = Similarity.ivfAssign(base, col("vec_id"), col("embedding"), idx.centroids)
    val diff = idx.assigned.select(col("vec_id"), col("cluster"))
      .join(re.select(col("vec_id"), col("cluster").as("c2")), "vec_id")
      .filter(col("cluster") =!= col("c2")).count()
    assert(diff == 0, s"$diff assignment disagreements vs KMeans.transform")
    // layout-independent: the delta's partitioning cannot move a vector
    val a = up.assigned.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toSet
    val b = Similarity.ivfUpsert(idx, delta.repartition(13, col("vec_id")),
        col("vec_id"), col("embedding"))
      .assigned.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toSet
    assert(a == b)
  }

  test("saveIvf/loadIvf: centroids round-trip bit-exactly, lists row-exactly, probes agree") {
    import graft.ops.Similarity
    val all = OpsQueries.clusteredEmb(spark, n = 400, dim = 16, centers = 8)
    val idx = Similarity.buildIvf(all, col("vec_id"), col("embedding"), nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.saveIvf(idx, dir)
    val back = Similarity.loadIvf(spark, dir)
    assert(back.centroids.length == idx.centroids.length)
    assert(back.centroids.zip(idx.centroids)
      .forall { case (a, b) => a.sameElements(b) }, "centroid doubles must round-trip bit-exactly")
    val rows = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("vec_id").cast("long"), col("cluster").cast("int"))
        .as[(Long, Int)].collect().toSet
    assert(rows(back.assigned) == rows(idx.assigned))
    val qv = OpsQueries.clusteredQueryVec(spark)
    assert(back.topK(qv, k = 5, nProbe = 3).select("vec_id").as[Long].collect().toSeq ==
      idx.topK(qv, k = 5, nProbe = 3).select("vec_id").as[Long].collect().toSeq)
  }

  test("sortedNeighborhood: equals the window-definition brute force, layout-independent") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      graft.ops.Linkage.sortedNeighborhood(df, col("c_custkey"), col("c_name"), 4)
        .select(col("id_a").cast("long"), col("id_b").cast("long"), col("dist"))
        .as[(Long, Long, Long)].collect().toSet
    // brute force straight off the definition: global row_number window
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c_name").asc, col("c_custkey").asc)
    val ranked = cust.select(col("c_custkey").cast("long").as("id"),
      (row_number().over(w) - 1).cast("long").as("pos"))
    val expected = ranked.as("a").join(ranked.as("b"),
        col("b.pos") > col("a.pos") && col("b.pos") - col("a.pos") <= 4)
      .select(col("a.id"), col("b.id"), col("b.pos") - col("a.pos"))
      .as[(Long, Long, Long)].collect().toSet
    val got = pairs(cust)
    assert(got == expected, s"sizes: got ${got.size} vs ${expected.size}")
    assert(pairs(cust.repartition(13, col("c_nationkey"))) == got)
    // every row pairs with its w successors: exact pair count
    val n = cust.count()
    assert(got.size == (4L * n - 4L * 5L / 2L), s"pair count ${got.size} for n=$n")
  }
}
