package graft

import graft.ops.{EventAnalytics, Pipeline}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks for the ops layer: random inputs, the law the
  * operator claims, a brute-force Scala model as the oracle. Seeded and
  * deterministic like [[ParserPropertySpec]] — ScalaCheck generators are
  * driven directly so every CI run replays the identical cases. */
class OpsPropertySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def cases[A](gen: Gen[A], n: Int): Seq[A] = {
    var seed = Seed(12021L)
    (0 until n).map { _ =>
      val v = gen.apply(params, seed).getOrElse(sys.error("gen failed"))
      seed = seed.next
      v
    }
  }

  test("hilbert xy2d: bijective and unit-step on random grid sizes; expression agrees") {
    // the curve law: for any bits, xy2d is a bijection grid→[0, 4^bits)
    // whose CONSECUTIVE indices are always Manhattan-adjacent — checked
    // exhaustively at random small orders, plus codegen agreement on
    // random wide keys at bits=16
    for (bits <- Seq(1, 2, 3, 5)) {
      val n = 1 << bits
      val cells = for (x <- 0 until n; y <- 0 until n)
        yield (graft.functions.Hilbert.xy2d(bits, x, y), x, y)
      val sorted = cells.sortBy(_._1)
      assert(sorted.map(_._1) == (0L until (n.toLong * n)),
        s"not a bijection at bits=$bits")
      for (Seq(a, b) <- sorted.sliding(2))
        assert(math.abs(a._2 - b._2) + math.abs(a._3 - b._3) == 1,
          s"non-adjacent step at bits=$bits: $a -> $b")
    }
    graft.functions.VectorFunctions.register(spark)
    val keys = cases(Gen.zip(Gen.chooseNum(0L, Long.MaxValue / 4),
      Gen.chooseNum(0L, Long.MaxValue / 4)), 40)
    val got = keys.toDF("x", "y")
      .select(graft.ops.Layout.hilbertValue(col("x"), col("y"), bits = 16))
      .collect().map(_.getLong(0)).toSeq
    assert(got == keys.map { case (x, y) => graft.functions.Hilbert.xy2d(16, x, y) })
  }

  test("kmv bottom-k aggregator: reduce/merge laws equal the sorted-distinct-take model") {
    // random hash multisets, random k: the aggregator's fold (in any
    // split) must equal distinct.sorted.take(k)
    val gen = Gen.zip(Gen.chooseNum(2, 12),
      Gen.listOfN(60, Gen.chooseNum(0L, 30L)))
    for ((k, hashes) <- cases(gen, 30)) {
      val agg = new graft.functions.KmvSketch.BottomKDistinct(k)
      val expected = hashes.distinct.sorted.take(k)
      // sequential reduce
      val folded = hashes.foldLeft(agg.zero)(agg.reduce)
      assert(folded == expected, s"reduce law broke: k=$k $hashes")
      // arbitrary split + merge (mergeability = the distributed law)
      val (l, r) = hashes.splitAt(hashes.length / 3)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == expected, s"merge law broke: k=$k $hashes")
    }
  }

  test("intervalUnionLength equals a brute-force sweep on random interval sets") {
    val genSet: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 2L)
        s <- Gen.choose(0L, 50L)
        len <- Gen.choose(1L, 20L)
      } yield (k, s, s + len))
    } yield rows
    for (rows <- cases(genSet, 25)) {
      val got = EventAnalytics.intervalUnionLength(
        rows.toDF("k", "s", "e"), col("k"), col("s"), col("e"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // model: per key, count covered integer points of the half-open
      // intervals and the number of merged islands
      val expected = rows.groupBy(_._1).map { case (k, rs) =>
        val covered = rs.flatMap { case (_, s, e) => s until e }.toSet
        val islands = covered.toSeq.sorted
          .foldLeft((0, Long.MinValue)) { case ((n, prev), p) =>
            (if (p == prev + 1) n else n + 1, p)
          }._1
        k -> ((islands.toLong, covered.size.toLong))
      }
      assert(got == expected, s"rows=$rows")
    }
  }

  test("chunkWithOverlap tiles [0, n) exactly at every window/stride combination") {
    val gen: Gen[(Long, Int, Int)] = for {
      n <- Gen.choose(0L, 300L)
      window <- Gen.choose(1, 80)
      stride <- Gen.choose(1, window)
    } yield (n, window, stride)
    for ((n, window, stride) <- cases(gen, 40)) {
      val chunks = Pipeline.chunkWithOverlap(
        Seq((1L, n)).toDF("id", "ntok"), col("id"), col("ntok"), window, stride)
        .orderBy(col("chunk_idx"))
        .collect().map(r => (r.getLong(2), r.getLong(3)))
      if (n == 0) assert(chunks.isEmpty)
      else {
        // starts advance by exactly stride from 0; ends clamp at n; the
        // union of half-open chunks covers [0, n) with no gap
        assert(chunks.head._1 == 0 && chunks.last._2 == n, s"n=$n w=$window s=$stride: ${chunks.toSeq}")
        for (Array((s1, e1), (s2, _)) <- chunks.sliding(2).map(_.toArray))
          assert(s2 == s1 + stride && s2 < e1 + 1 && s2 <= n - 1,
            s"gap or drift at n=$n w=$window s=$stride: ${chunks.toSeq}")
        val covered = chunks.flatMap { case (s, e) => s until e }.toSet
        assert(covered == (0L until n).toSet, s"n=$n w=$window s=$stride")
        assert(chunks.forall { case (s, e) => e - s >= 1 && e - s <= window })
      }
    }
  }

  test("temperatureMixture: weights normalize and preserve the share ordering at every alpha") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (alpha <- Seq(0.0, 0.25, 0.5, 0.75, 1.0)) {
      val rows = Pipeline.temperatureMixture(base, col("source"), alpha)
        .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
      assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3, s"alpha=$alpha")
      // p^alpha is monotone: bigger share never gets a smaller weight
      for (Seq((_, pa, wa), (_, pb, wb)) <- rows.sortBy(_._2).sliding(2).map(_.toSeq)
           if pb > pa)
        assert(wb >= wa - 1e-6, s"alpha=$alpha: share $pb<-$pa weight $wb<$wa")
    }
  }

  test("weightedReservoirPerGroup: full groups, deterministic, rank-contiguous on random weights") {
    val gen: Gen[Seq[(Long, String, Double)]] = for {
      n <- Gen.choose(5, 40)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 100000L)
        g <- Gen.oneOf("a", "b", "c")
        w <- Gen.choose(1, 500).map(_.toDouble)
      } yield (id, g, w))
    } yield rows.distinctBy(_._1)
    for (rows <- cases(gen, 15)) {
      val df = rows.toDF("id", "g", "w")
      def run() = Pipeline.weightedReservoirPerGroup(
        df, col("id"), col("g"), col("w"), k = 4, salt = "prop")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
      val got = run()
      val byG = got.groupBy(_._1)
      for ((g, members) <- rows.groupBy(_._2)) {
        val picked = byG.getOrElse(g, Array.empty)
        assert(picked.length == math.min(4, members.length), s"g=$g rows=$rows")
        assert(picked.map(_._3).sorted.toSeq == (1 to picked.length).toSeq)
      }
      assert(run().toSeq == got.toSeq, "same salt must redraw identically")
    }
  }

  test("ksTwoSample laws: D in [0,1], swap-symmetric, brute ECDF model agrees") {
    val gen = for {
      n <- Gen.choose(2, 25)
      rows <- Gen.listOfN(n, for {
        s <- Gen.oneOf("a", "b")
        v <- Gen.choose(0, 8).map(_.toDouble) // ties likely
      } yield (s, v))
    } yield rows
    for (rows <- cases(gen, 12)
         if rows.exists(_._1 == "a") && rows.exists(_._1 == "b")) {
      val df = rows.toDF("s", "v")
      val r = graft.ops.Profile.ksTwoSample(df,
        col("s") === "a", col("s") === "b", col("v")).head()
      val rSwap = graft.ops.Profile.ksTwoSample(df,
        col("s") === "b", col("s") === "a", col("v")).head()
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(3) == rSwap.getDouble(3), "KS must be symmetric")
      // brute model: max over pooled values of |F_a − F_b|
      val a = rows.filter(_._1 == "a").map(_._2)
      val b = rows.filter(_._1 == "b").map(_._2)
      val d = (a ++ b).distinct.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.size
          - b.count(_ <= v).toDouble / b.size)
      }.max
      assert(r.getDouble(3) == math.floor(d * 1e8 + 0.5) / 1e8,
        s"model D=$d vs ${r.getDouble(3)} on $rows")
    }
  }

  test("psiDrift law: nonnegative, zero iff identical bin distributions") {
    val gen = for {
      n <- Gen.choose(2, 30)
      rows <- Gen.listOfN(n, for {
        s <- Gen.oneOf("r", "c")
        bin <- Gen.choose(0L, 4L)
      } yield (s, bin))
    } yield rows
    for (rows <- cases(gen, 12)
         if rows.exists(_._1 == "r") && rows.exists(_._1 == "c")) {
      val df = rows.toDF("s", "b")
      val psi = graft.ops.Profile.psiDrift(df,
        col("s") === "r", col("s") === "c", col("b")).head().getDouble(3)
      // 6-dp per-term floors can nudge a near-zero total one grid step
      // below zero; the law is nonnegativity of the true statistic
      assert(psi >= -1e-5, s"PSI must be (floor-)nonnegative: $psi on $rows")
    }
    val same = (0L to 3L).flatMap(b =>
      Seq.fill(3)(("r", b)) ++ Seq.fill(3)(("c", b))).toDF("s", "b")
    assert(graft.ops.Profile.psiDrift(same,
      col("s") === "r", col("s") === "c", col("b")).head().getDouble(3) == 0.0)
  }

  test("modularity law: Q <= 1 and all-one-community Q = 0 on random graphs") {
    val gen = for {
      m <- Gen.choose(3, 20)
      edges <- Gen.listOfN(m, for {
        u <- Gen.choose(0L, 9L); v <- Gen.choose(0L, 9L)
      } yield (u, v))
    } yield edges.filter(e => e._1 != e._2)
    for (edges <- cases(gen, 10) if edges.nonEmpty) {
      val e = edges.toDF("a", "b")
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.toDF("n")
      val q = graft.ops.Graph.modularity(e, col("a"), col("b"),
          nodes, col("n"), col("n") % 3)
        .agg(sum(col("term8"))).head().getDouble(0)
      assert(q <= 1.0 + 1e-6, s"Q=$q on $edges")
      val q1 = graft.ops.Graph.modularity(e, col("a"), col("b"),
          nodes, col("n"), lit(0L))
        .agg(sum(col("term8"))).head().getDouble(0)
      assert(math.abs(q1) < 1e-6, s"one-community Q must be 0: $q1")
    }
  }
}
