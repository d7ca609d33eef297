package graft

import graft.engine.SourceRegistry
import graft.fixtures.TpchLake
import graft.functions.Native
import graft.ops.{Dedup, EventAnalytics, Multimodal, Pipeline, Retrieval, Similarity, TemporalJoin, TextOps}
import graft.sources.NtSource
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Net-new operator suite beyond the reference (training-data-pipeline
  * operators, window functions, decimal-exact aggregation, streaming, NT
  * ingestion). Every entry carries a hard DuckDB oracle — an exact twin,
  * a portable-hash twin, or a pinned measured-recall/measured-error
  * verdict row for the probabilistic ops; no rows-only checks remain.
  */
object OpsQueries {

  /** Table `name` of the lake at `sf`, read through [[SourceRegistry.parquet]]. */
  private def table(s: SparkSession, sf: String, name: String): DataFrame =
    SourceRegistry.parquet(s, s"$sf/$name.parquet")

  /** Unrolled power iteration for the s19 PCA oracle: every Spark-side
    * step (8-dp-floored products, exact DECIMAL sums, 10-dp-floored
    * norm squares) restated per iteration; MATERIALIZED so DuckDB never
    * inlines the chain exponentially (the g10 lesson). */
  private def pcaPowerSql(iterations: Int): String = {
    val head =
      """WITH x AS MATERIALIZED (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
        |    (generate_subscripts(embedding, 1) - 1)::INT AS i FROM embeddings),
        |m AS MATERIALIZED (SELECT i,
        |    floor(CAST(SUM(CAST(floor(v * 1000000 + 0.5) / 1000000
        |        AS DECIMAL(38,6))) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |      / 1000000 AS mean6 FROM x GROUP BY i),
        |cent AS MATERIALIZED (SELECT x.vec_id, x.i, x.v - m.mean6 AS vc
        |  FROM x JOIN m USING (i)),
        |nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
        |cov AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
        |    CAST(SUM(CAST(floor(a.vc * b.vc * 1e10 + 0.5) / 1e10
        |        AS DECIMAL(38,10))) AS DOUBLE) / (SELECT n FROM nn) AS c
        |  FROM cent a JOIN cent b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |dd AS (SELECT count(*)::BIGINT AS d FROM m),
        |v0 AS MATERIALIZED (SELECT i,
        |    floor(1.0 / sqrt((SELECT d FROM dd)::DOUBLE) * 1e8 + 0.5) / 1e8
        |      AS val FROM m)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""w$k AS MATERIALIZED (SELECT cov.i,
         |    CAST(SUM(CAST(floor(cov.c * p.val * 1e8 + 0.5) / 1e8
         |        AS DECIMAL(38,8))) AS DOUBLE) AS w
         |  FROM cov JOIN v${k - 1} p ON p.i = cov.j GROUP BY cov.i),
         |n$k AS (SELECT sqrt(CAST(SUM(CAST(floor(w * w * 1e10 + 0.5) / 1e10
         |    AS DECIMAL(38,10))) AS DOUBLE)) AS nrm FROM w$k),
         |v$k AS MATERIALIZED (SELECT i,
         |    floor(w / (SELECT nrm FROM n$k) * 1e8 + 0.5) / 1e8 AS val
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iters +
      s"""\nSELECT i AS dim, val AS loading8,
         |  floor((SELECT nrm FROM n$iterations) * 1e8 + 0.5) / 1e8 AS eigval8
         |FROM v$iterations""".stripMargin
  }

  /** Unrolled k-core peel for the g10 oracle: DuckDB's recursive CTEs
    * cannot re-aggregate per iteration, so the peel is unrolled to
    * `rounds` idempotent steps — the sf0.01 fixture converges in 3, and
    * extra rounds are no-ops on a fixpoint, so 8 is safely past it. */
  private def kcorePeelSql(k: Int, rounds: Int): String = {
    def deg(src: String) =
      s"(SELECT n FROM (SELECT u AS n FROM $src UNION ALL SELECT v FROM $src)" +
        s" GROUP BY 1 HAVING count(*) >= $k)"
    val peels = (1 to rounds).map { i =>
      val prev = if (i == 1) "e0" else s"p${i - 1}"
      s"p$i AS MATERIALIZED (SELECT e.u, e.v FROM $prev e\n" +
        s"  JOIN ${deg(prev)} du ON du.n = e.u\n" +
        s"  JOIN ${deg(prev)} dv ON dv.n = e.v)"
    }.mkString(",\n")
    """WITH e0 AS MATERIALIZED (SELECT DISTINCT
      |    least(l_partkey, l_suppkey + 1000000) AS u,
      |    greatest(l_partkey, l_suppkey + 1000000) AS v
      |  FROM lineitem
      |  WHERE l_orderkey % 17 = 0 AND l_partkey <> l_suppkey + 1000000),
      |""".stripMargin + peels +
      s"""\nSELECT n AS node, count(*)::BIGINT AS core_deg
         |FROM (SELECT u AS n FROM p$rounds UNION ALL SELECT v FROM p$rounds)
         |GROUP BY 1""".stripMargin
  }
  /** Chained-CTE restatement of [[graft.functions.Hilbert.xy2d]] for the
    * l10 oracle: one CTE per bit level carrying (x, y, d) through the
    * same quadrant walk — flip-then-swap rotation and the gray-coded
    * quadrant term, all in BIGINT bit ops. Validated cell-exact against
    * the reference implementation on the full 16x16 grid and on
    * bits=10 spot grids before being wired in. */
  private def hilbertChainSql(bits: Int, xSql: String, ySql: String,
      idSql: String, table: String): String = {
    val n = 1L << bits
    val mask = n - 1
    val head = s"WITH h0 AS (SELECT $idSql AS id, (($xSql)::BIGINT & $mask) AS x, " +
      s"(($ySql)::BIGINT & $mask) AS y, 0::BIGINT AS d FROM $table)"
    val steps = (1 to bits).map { k =>
      val s = n >> k
      s"""h$k AS (SELECT id,
         |  CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) <> 0 THEN $mask - y ELSE y END ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) <> 0 THEN $mask - x ELSE x END ELSE y END AS y,
         |  d + $s::BIGINT * $s * xor(3 * CASE WHEN (x & $s) <> 0 THEN 1 ELSE 0 END,
         |      CASE WHEN (y & $s) <> 0 THEN 1 ELSE 0 END) AS d
         |FROM h${k - 1})""".stripMargin
    }.mkString(",\n")
    head + ",\n" + steps
  }

  /** Unrolled Fellegi-Sunter EM for the er02 oracle: restates
    * [[graft.ops.Linkage.fellegiSunterParams]] iteration-for-iteration —
    * per-pattern posteriors 9-dp-floored, M-step sums as exact
    * DECIMAL(13,9)×DECIMAL(9,0) products, parameter updates one double
    * division then 9-dp floor. `pairSql` must yield g0..g{f-1} INT
    * agreement bits. Validated bit-identical against a quantized
    * reference simulation before wiring in. */
  private def fsEmSql(iterations: Int, f: Int, pairSql: String): String = {
    val gs = (0 until f).map(i => s"g$i")
    val aExpr = "pr.p" + (0 until f).map(i =>
      s" * (CASE WHEN g$i = 1 THEN pr.m$i ELSE 1 - pr.m$i END)").mkString
    val bExpr = "(1 - pr.p)" + (0 until f).map(i =>
      s" * (CASE WHEN g$i = 1 THEN pr.u$i ELSE 1 - pr.u$i END)").mkString
    val parts = scala.collection.mutable.ArrayBuffer(
      s"WITH pat AS MATERIALIZED (SELECT ${gs.mkString(", ")}, count(*)::BIGINT AS n" +
        s" FROM ($pairSql) GROUP BY ${(1 to f).mkString(", ")})",
      "tot AS (SELECT SUM(n)::BIGINT AS tn FROM pat)",
      "p0 AS (SELECT 0.2::DOUBLE AS p, " +
        (0 until f).map(i => s"0.8::DOUBLE AS m$i").mkString(", ") + ", " +
        (0 until f).map(i => s"0.2::DOUBLE AS u$i").mkString(", ") + ")")
    for (k <- 1 to iterations + 1) {
      parts += s"e$k AS (SELECT ${gs.mkString(", ")}, n, " +
        s"floor(($aExpr) / (($aExpr) + ($bExpr)) * 1e9 + 0.5) / 1e9 AS w " +
        s"FROM pat, p${k - 1} pr)"
      if (k <= iterations) {
        val swg = (0 until f).map(i =>
          s"CAST(SUM(CASE WHEN g$i = 1 THEN CAST(w AS DECIMAL(13,9)) * " +
            s"CAST(n AS DECIMAL(9,0)) ELSE 0 END) AS DOUBLE) AS swg$i").mkString(", ")
        val scg = (0 until f).map(i =>
          s"CAST(SUM(CASE WHEN g$i = 1 THEN CAST(1 - w AS DECIMAL(13,9)) * " +
            s"CAST(n AS DECIMAL(9,0)) ELSE 0 END) AS DOUBLE) AS scg$i").mkString(", ")
        parts += s"s$k AS (SELECT " +
          "CAST(SUM(CAST(w AS DECIMAL(13,9)) * CAST(n AS DECIMAL(9,0))) AS DOUBLE) AS sw, " +
          "CAST(SUM(CAST(1 - w AS DECIMAL(13,9)) * CAST(n AS DECIMAL(9,0))) AS DOUBLE) AS sc, " +
          s"$swg, $scg FROM e$k)"
        val ms = (0 until f).map(i =>
          s"floor(swg$i / sw * 1e9 + 0.5) / 1e9 AS m$i").mkString(", ")
        val us = (0 until f).map(i =>
          s"floor(scg$i / sc * 1e9 + 0.5) / 1e9 AS u$i").mkString(", ")
        parts += s"p$k AS (SELECT floor(sw / (SELECT tn::DOUBLE FROM tot) " +
          s"* 1e9 + 0.5) / 1e9 AS p, $ms, $us FROM s$k)"
      }
    }
    val patStr = (0 until f).map(i => s"CAST(g$i AS VARCHAR)").mkString(" || ")
    parts.mkString(",\n") +
      s"\nSELECT $patStr AS pattern, n, w AS w9 FROM e${iterations + 1}"
  }

  /** Unrolled HITS for the g12 oracle: per iteration, auth then hub —
    * DECIMAL(19,8)-exact propagation sums, 10-dp-floored squares into
    * DECIMAL(38,10) for the L2 norm, IEEE sqrt, 8-dp-floored scores —
    * restating [[graft.ops.Graph.hits]] step-for-step on the g01 edge
    * fixture. */
  private def hitsSql(iterations: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |  UNION
        |  SELECT s_suppkey + 1000000, s_nationkey + 2000000 FROM supplier),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS MATERIALIZED (SELECT node,
        |  (SELECT floor(1.0 / sqrt(count(*)::DOUBLE) * 1e8 + 0.5) / 1e8
        |   FROM nodes) AS s FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""a${k}r AS MATERIALIZED (SELECT e.dst AS node,
         |    CAST(SUM(CAST(h.s AS DECIMAL(19,8))) AS DOUBLE) AS raw
         |  FROM e JOIN h${k - 1} h ON h.node = e.src GROUP BY e.dst),
         |a${k}n AS (SELECT sqrt(CAST(SUM(CAST(floor(raw * raw * 1e10 + 0.5) / 1e10
         |    AS DECIMAL(38,10))) AS DOUBLE)) AS nrm FROM a${k}r),
         |a$k AS MATERIALIZED (SELECT node,
         |    floor(raw / (SELECT nrm FROM a${k}n) * 1e8 + 0.5) / 1e8 AS s
         |  FROM a${k}r),
         |h${k}r AS MATERIALIZED (SELECT e.src AS node,
         |    CAST(SUM(CAST(a.s AS DECIMAL(19,8))) AS DOUBLE) AS raw
         |  FROM e JOIN a$k a ON a.node = e.dst GROUP BY e.src),
         |h${k}n AS (SELECT sqrt(CAST(SUM(CAST(floor(raw * raw * 1e10 + 0.5) / 1e10
         |    AS DECIMAL(38,10))) AS DOUBLE)) AS nrm FROM h${k}r),
         |h$k AS MATERIALIZED (SELECT node,
         |    floor(raw / (SELECT nrm FROM h${k}n) * 1e8 + 0.5) / 1e8 AS s
         |  FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iters +
      s"""\nSELECT n.node, coalesce(h.s, 0.0) AS hub8, coalesce(a.s, 0.0) AS auth8
         |FROM nodes n
         |LEFT JOIN h$iterations h ON h.node = n.node
         |LEFT JOIN a$iterations a ON a.node = n.node""".stripMargin
  }

  /** Unrolled deterministic synchronous LPA for the g16 oracle: the
    * co-purchase projection (distinct part pairs sharing an order),
    * `rounds` rounds of simultaneous adopt-most-frequent-neighbor-label
    * with min-label ties (row_number over count DESC, lab ASC restates
    * [[graft.ops.Graph.labelPropagation]]'s min-of-(−count, lab)
    * struct), then Newman modularity + community sizes of the final
    * labeling — the SAME integer/8-dp arithmetic as the g14 oracle. */
  private def lpaSql(rounds: Int): String = {
    val head =
      """WITH it AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey % 7 = 0),
        |co AS MATERIALIZED (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM it a JOIN it b ON a.g = b.g AND a.i < b.i),
        |sym AS MATERIALIZED (SELECT u AS x, v AS y FROM co
        |  UNION ALL SELECT v, u FROM co),
        |l0 AS MATERIALIZED (SELECT DISTINCT x AS n, x AS lab FROM sym)""".stripMargin
    val iters = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT n, lab FROM (
         |  SELECT s.x AS n, l.lab AS lab,
         |    row_number() OVER (PARTITION BY s.x
         |      ORDER BY count(*) DESC, l.lab ASC) AS rn
         |  FROM sym s JOIN l${k - 1} l ON l.n = s.y
         |  GROUP BY s.x, l.lab) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iters +
      s""",
         |wc AS MATERIALIZED (SELECT lu.lab AS cu, lv.lab AS cv
         |  FROM co JOIN l$rounds lu ON lu.n = co.u
         |  JOIN l$rounds lv ON lv.n = co.v),
         |mt AS (SELECT count(*)::BIGINT AS m FROM wc),
         |inc AS (SELECT cu AS community, count(*)::BIGINT AS n_edges_in
         |  FROM wc WHERE cu = cv GROUP BY 1),
         |deg AS (SELECT community, count(*)::BIGINT AS degree_sum FROM (
         |    SELECT cu AS community FROM wc
         |    UNION ALL SELECT cv FROM wc) GROUP BY 1),
         |sz AS (SELECT lab AS community, count(*)::BIGINT AS n_nodes
         |  FROM l$rounds GROUP BY 1)
         |SELECT deg.community, sz.n_nodes,
         |  coalesce(inc.n_edges_in, 0)::BIGINT AS n_edges_in, deg.degree_sum,
         |  floor((coalesce(inc.n_edges_in, 0)::DOUBLE / (SELECT m FROM mt)::DOUBLE
         |    - (deg.degree_sum::DOUBLE / (2.0 * (SELECT m FROM mt)))
         |      * (deg.degree_sum::DOUBLE / (2.0 * (SELECT m FROM mt))))
         |    * 1e8 + 0.5) / 1e8 AS term8
         |FROM deg JOIN sz USING (community)
         |LEFT JOIN inc USING (community)""".stripMargin
  }

  /** The query-vector for ANN queries: embedding of vec_id 0 (read once,
    * tiny). Deterministic and oracle-reproducible via a scalar subquery. */
  private def queryVec(s: SparkSession, sf: String): Seq[Double] =
    table(s, sf, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  /** Deterministic clustered embedding fixture: a 40-center mixture with
    * 25% noise, hash-derived (no RNG state) — the shape a real corpus
    * has, where sublinear ANN earns recall ≥ 0.9. The driver's synthetic
    * embeddings are near-random (top-10 cosines ~0.2–0.4, ANN's worst
    * case), which caps meaningful floors at 50–75%; these gates pin the
    * high-recall contract on realistic data. sf-independent by design:
    * the same fixture (and therefore the same verdict row) at every
    * scale factor. */
  private[graft] def clusteredEmb(s: SparkSession,
      n: Int = 2000, dim: Int = 32, centers: Int = 40): DataFrame =
    s.range(0, n, 1, 8).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (pmod(xxhash64(lit("cc"), pmod(col("id"), lit(centers)), i), lit(2001))
          .cast("double") / 1000.0 - 1.0) +
          (pmod(xxhash64(lit("cn"), col("id"), i), lit(2001))
            .cast("double") / 1000.0 - 1.0) * 0.25).as("embedding"))

  private[graft] def clusteredQueryVec(s: SparkSession): Seq[Double] =
    clusteredEmb(s).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Double](0)

  /** The ANN invocations under test, each defined ONCE and shared between
    * the recall gate (s02/s03/s05 correctness entries) and the bench-mode
    * override that times it — so the bench can never quietly time a
    * differently-configured operator than the one the gate verifies. */
  private[graft] def annLsh(corpus: DataFrame, qv: Seq[Double]): DataFrame =
    Similarity.annTopK(corpus, col("vec_id"), col("embedding"), qv,
      k = 10, numPlanes = 8, probeHamming = 3)

  private[graft] def annIvfBuild(corpus: DataFrame): Similarity.IvfIndex =
    Similarity.buildIvf(corpus, col("vec_id"), col("embedding"), nLists = 16)

  private[graft] def annIvfProbe(idx: Similarity.IvfIndex, qv: Seq[Double]): DataFrame =
    idx.topK(qv, k = 10, nProbe = 6)

  private[graft] def knnIvf(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.knnJoinIvf(queries, corpus, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), k = 3,
      nListsOpt = Some(16), nProbeOpt = Some(8))

  private[graft] def annIvfAuto(corpus: DataFrame): Similarity.IvfIndex = {
    val (nLists, _) = Similarity.autoIvfParams(corpus.count())
    Similarity.buildIvf(corpus, col("vec_id"), col("embedding"), nLists)
  }

  private[graft] def annIvfAutoProbe(idx: Similarity.IvfIndex, qv: Seq[Double]): DataFrame =
    idx.topK(qv, k = 10, nProbe = math.max(4, idx.centroids.length / 8))

  private[graft] def knnIvfAuto(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.knnJoinIvfAuto(queries, corpus, col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), k = 3)

  /** Shared harness for the ANN recall gates: average recall@10 of `ann`
    * against the exact brute-force baseline (itself oracle-gated via s01)
    * over vec_id 0..19 as queries, corpus = the rest. Emits one verdict
    * row the oracle pins. Driver-side collects are bounded: 20 query
    * vectors + 20×10 result ids. */
  private def annRecallGate(s: SparkSession, sf: String, floorPct: Int)(
      ann: (DataFrame, Seq[Double]) => DataFrame): DataFrame =
    annRecallGateOn(s, table(s, sf, "embeddings"), floorPct)(ann)

  /** Same protocol over an arbitrary embedding table (vec_id < 20 are the
    * queries, the rest the corpus).
    *
    * Round-17 execution reshape (same verdict row, proven by the
    * unchanged oracles): the exact side runs as ONE batched job
    * ([[Similarity.bruteForceTopKBatch]] — identical cosine arithmetic
    * and tie-break per query) instead of 20 sequential TakeOrdered
    * jobs, and the 19 post-warmup ANN probes run CONCURRENTLY from a
    * small thread pool (guide §2.6: independent read-only jobs over the
    * cached corpus/index back-fill the executor; the first probe stays
    * sequential because every indexed gate builds its index lazily on
    * first invocation, and pool submission after it completes gives the
    * workers a happens-before view of the built index). The old
    * per-query driver loop was ~40 sequential jobs per gate — the
    * gates' dominant cost at every SF, since corpus size is fixed. */
  private[graft] def annRecallGateOn(s: SparkSession, all: DataFrame, floorPct: Int)(
      ann: (DataFrame, Seq[Double]) => DataFrame): DataFrame = {
    import s.implicits._
    val corpus = all.filter(col("vec_id") >= 20).cache()
    try {
      val qs = all.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      val exact: Map[Long, Set[Long]] = Similarity.bruteForceTopKBatch(
        corpus, col("vec_id"), col("embedding"),
        qs.map { case (qid, qv) => (qid, qv.toSeq) }.toSeq, k = 10)
      def annIds(qv: Seq[Double]): Set[Long] =
        ann(corpus, qv).select(col("vec_id").cast("long")).as[Long].collect().toSet
      val annRes = new Array[Set[Long]](qs.length)
      annRes(0) = annIds(qs.head._2) // sequential: builds the gate's index
      if (qs.length > 1) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, qs.length - 1), (r: Runnable) => new Thread(r, AnnProbeThread))
        try {
          val futs = (1 until qs.length).map { i =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = annRes(i) = annIds(qs(i)._2)
            })
          }
          futs.foreach(_.get())
        } catch {
          // a failed probe: stop the others before surfacing its cause
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
            throw Option(e.getCause).getOrElse(e)
        } finally pool.shutdown()
      }
      val recalls = qs.zipWithIndex.map { case ((qid, _), i) =>
        (annRes(i) & exact.getOrElse(qid, Set.empty)).size / 10.0
      }
      val avg = recalls.sum / recalls.length
      s.createDataFrame(Seq((qs.length, floorPct, avg * 100 >= floorPct)))
        .toDF("n_queries", "floor_pct", "recall_floor_met")
    } finally corpus.unpersist()
  }

  /** Name of the ANN recall gates' probe-pool threads. */
  private[graft] val AnnProbeThread = "graft-ann-probe"

  val oracleSuite: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(

    // ---- dedup ----------------------------------------------------------
    ("d01_dedup_exact",
      (s, sf) => Dedup.exact(table(s, sf, "documents"), Dedup.normText(col("text")), col("doc_id")),
      "SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY lower(trim(text))"),

    ("d06_dedup_rows",
      (s, sf) => Dedup.exactRows(table(s, sf, "documents"), Dedup.normText(col("text")), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars")),
      "SELECT doc_id, lang, n_chars FROM documents " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) = 1"),

    ("d02_ngram_jaccard",
      (s, sf) => Dedup.ngramJaccardPairs(table(s, sf, "documents"), col("doc_id"), col("text"),
        n = 3, threshold = 0.8),
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.ws,b.ws))::DOUBLE
        |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE jaccard >= 0.8""".stripMargin),

    // rarity-ordered prefix path (the large-corpus default): identical
    // semantics to d02 — the prefix-filter theorem holds for any global
    // total order — so it shares d02's exact all-pairs oracle
    ("d08_ngram_jaccard_rarity",
      (s, sf) => Dedup.ngramJaccardPairs(table(s, sf, "documents"), col("doc_id"), col("text"),
        n = 3, threshold = 0.8, rarityPrefix = Some(true)),
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.ws,b.ws))::DOUBLE
        |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE jaccard >= 0.8""".stripMargin),

    // EXACT shared-substring detection (Lee et al. 2022): a verbatim
    // 10-word sentence planted in every doc_id%7==0 doc yields 3 fully
    // internal 8-grams per planted doc (boundary 8-grams mix in
    // doc-specific words); the pair relation with distinct-shared-span
    // counts must equal DuckDB's exact list_intersect derivation
    ("d16_shared_spans",
      (s, sf) => Dedup.sharedSpanPairs(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\nthe quick brown fox jumps over the lazy dog again"))
            .otherwise(lit(""))).as("text")),
        col("doc_id"), col("text"), n = 8),
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN chr(10)||'the quick brown fox jumps over the lazy dog again'
        |         ELSE '' END AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([
        |    array_to_string(toks[i:least(i+7, len(toks))], ' ')
        |    FOR i IN range(1, greatest(len(toks)-6, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(t)), '\s+') toks FROM base))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.ws, b.ws)) AS n_shared
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE n_shared >= 1""".stripMargin),

    // exact-substring spans (Lee et al. 2022 regime, k-gram form): every
    // duplicated 8-token window's [pos,pos+8) merged into maximal per-doc
    // islands — all integers, deterministic; the %7 fixture plants a
    // 10-token boilerplate so cross-doc spans provably exist
    ("d21_duplicated_spans",
      (s, sf) => Dedup.duplicatedSpans(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\nthe quick brown fox jumps over the lazy dog again"))
            .otherwise(lit(""))).as("text")),
        col("doc_id"), col("text"), k = 8),
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN chr(10)||'the quick brown fox jumps over the lazy dog again'
        |         ELSE '' END AS t FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(lower(trim(t)), '\s+') AS toks FROM base),
        |g AS (SELECT doc_id, unnest([{'pos': i - 1,
        |          'gram': array_to_string(toks[i:i+7], ' ')}
        |        FOR i IN range(1, len(toks) - 6)], recursive := true)
        |      FROM tok WHERE len(toks) >= 8),
        |d AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) > 1),
        |o AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e FROM g JOIN d USING (gram)),
        |m AS (SELECT doc_id, s, e,
        |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |             THEN 1 ELSE 0 END AS isnew FROM o),
        |isl AS (SELECT doc_id, s, e,
        |        sum(isnew) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM m)
        |SELECT doc_id, min(s) AS start_tok, max(e) AS end_tok,
        |       max(e) - min(s) AS ntok
        |FROM isl GROUP BY doc_id, island""".stripMargin),

    // duplicated-token budget per doc: span coverage / total tokens, the
    // "how much of this doc is boilerplate" signal; spans disjoint by
    // construction so coverage is a plain sum; 0 (not NULL) when clean
    ("d22_dup_token_fraction",
      (s, sf) => Dedup.duplicatedTokenFraction(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\nthe quick brown fox jumps over the lazy dog again"))
            .otherwise(lit(""))).as("text")),
        col("doc_id"), col("text"), k = 8),
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN chr(10)||'the quick brown fox jumps over the lazy dog again'
        |         ELSE '' END AS t FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(lower(trim(t)), '\s+') AS toks FROM base),
        |g AS (SELECT doc_id, unnest([{'pos': i - 1,
        |          'gram': array_to_string(toks[i:i+7], ' ')}
        |        FOR i IN range(1, len(toks) - 6)], recursive := true)
        |      FROM tok WHERE len(toks) >= 8),
        |d AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) > 1),
        |o AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e FROM g JOIN d USING (gram)),
        |m AS (SELECT doc_id, s, e,
        |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |             THEN 1 ELSE 0 END AS isnew FROM o),
        |isl AS (SELECT doc_id, s, e,
        |        sum(isnew) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM m),
        |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e
        |       FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT doc_id, sum(e - s) AS dup_toks FROM sp GROUP BY 1)
        |SELECT t.doc_id, coalesce(cov.dup_toks, 0)::BIGINT AS dup_toks,
        |       len(t.toks) AS total_toks,
        |       floor(coalesce(cov.dup_toks, 0)::DOUBLE / len(t.toks)
        |             * 1000000 + 0.5) / 1000000 AS dup_frac
        |FROM tok t LEFT JOIN cov USING (doc_id)""".stripMargin),

    // span-level contamination: WHERE the test corpus (every 11th doc's
    // 120-char prefix) leaks inside training docs, as maximal merged
    // spans — the surgical-cut decontamination primitive; test side
    // collapses to distinct gram keys before the join
    ("d23_contamination_spans",
      (s, sf) => Dedup.contaminationSpans(
        table(s, sf, "documents"), col("doc_id"), col("text"),
        table(s, sf, "documents").filter(col("doc_id") % 11 === 0)
          .select(substring(col("text"), 1, 120).as("t")),
        col("t"), k = 8),
      """WITH ptoks AS (SELECT string_split_regex(lower(trim(substr(text, 1, 120))),
        |      '\s+') AS toks FROM documents WHERE doc_id % 11 = 0),
        |probe AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+7], ' ')
        |    FOR i IN range(1, len(toks) - 6)]) AS gram
        |  FROM ptoks WHERE len(toks) >= 8),
        |ttoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+')
        |    AS toks FROM documents),
        |g AS (SELECT doc_id, unnest([{'pos': i - 1,
        |      'gram': array_to_string(toks[i:i+7], ' ')}
        |    FOR i IN range(1, len(toks) - 6)], recursive := true)
        |  FROM ttoks WHERE len(toks) >= 8),
        |o AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
        |  FROM g JOIN probe USING (gram)),
        |m AS (SELECT doc_id, s, e,
        |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |             ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
        |             1 PRECEDING), -1) THEN 1 ELSE 0 END AS isnew FROM o),
        |isl AS (SELECT doc_id, s, e,
        |        sum(isnew) OVER (PARTITION BY doc_id ORDER BY s) AS island
        |  FROM m)
        |SELECT doc_id, min(s) AS start_tok, max(e) AS end_tok,
        |       max(e) - min(s) AS ntok
        |FROM isl GROUP BY doc_id, island""".stripMargin),

    // surgical decontamination: detect (d23) then CUT the flagged token
    // ranges and rejoin — keeps the 5000-token page, loses the 50-token
    // leaked quote; docs cut to nothing drop, untouched docs pass as-is
    ("d24_cut_spans",
      (s, sf) => {
        val train = table(s, sf, "documents")
        val spans = Dedup.contaminationSpans(
          train, col("doc_id"), col("text"),
          table(s, sf, "documents").filter(col("doc_id") % 11 === 0)
            .select(substring(col("text"), 1, 120).as("t")),
          col("t"), k = 8)
        Dedup.cutSpans(train, col("doc_id"), col("text"), spans)
      },
      """WITH ptoks AS (SELECT string_split_regex(lower(trim(substr(text, 1, 120))),
        |      '\s+') AS toks FROM documents WHERE doc_id % 11 = 0),
        |probe AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+7], ' ')
        |    FOR i IN range(1, len(toks) - 6)]) AS gram
        |  FROM ptoks WHERE len(toks) >= 8),
        |ttoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+')
        |    AS toks FROM documents),
        |g AS (SELECT doc_id, unnest([{'pos': i - 1,
        |      'gram': array_to_string(toks[i:i+7], ' ')}
        |    FOR i IN range(1, len(toks) - 6)], recursive := true)
        |  FROM ttoks WHERE len(toks) >= 8),
        |o AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
        |  FROM g JOIN probe USING (gram)),
        |m AS (SELECT doc_id, s, e,
        |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |             ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
        |             1 PRECEDING), -1) THEN 1 ELSE 0 END AS isnew FROM o),
        |isl AS (SELECT doc_id, s, e,
        |        sum(isnew) OVER (PARTITION BY doc_id ORDER BY s) AS island
        |  FROM m),
        |sp AS (SELECT doc_id, min(s) AS st, max(e) AS en
        |  FROM isl GROUP BY doc_id, island),
        |cut AS (SELECT DISTINCT doc_id, unnest([i FOR i IN range(st, en)]) AS pos
        |  FROM sp),
        |tk AS (SELECT doc_id, unnest(toks) AS tok,
        |    generate_subscripts(toks, 1) - 1 AS pos FROM ttoks),
        |kept AS (SELECT tk.doc_id, tk.pos, tk.tok
        |  FROM tk LEFT JOIN cut ON cut.doc_id = tk.doc_id AND cut.pos = tk.pos
        |  WHERE cut.pos IS NULL),
        |tot AS (SELECT doc_id, len(toks)::BIGINT AS total FROM ttoks)
        |SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.pos) AS text,
        |  (max(tot.total) - count(*))::BIGINT AS n_removed
        |FROM kept k JOIN tot ON tot.doc_id = k.doc_id GROUP BY k.doc_id""".stripMargin),

    // TRUE longest-duplicated-substring spans (the exact Lee et al.
    // criterion d21's k-gram islands approximate): distributed
    // suffix-grouping — doubling ladder of equality-exact classes +
    // parallel binary search — vs a brute-force oracle that enumerates
    // EVERY (pos, length) window 8..64 on true substring text; same %7
    // planted boilerplate as d21 so cross-doc spans provably exist
    ("d25_longest_dup_spans",
      (s, sf) => Dedup.longestDuplicatedSpans(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\nthe quick brown fox jumps over the lazy dog again"))
            .otherwise(lit(""))).as("text")),
        col("doc_id"), col("text"), minLen = 8, maxLen = 64),
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN chr(10)||'the quick brown fox jumps over the lazy dog again'
        |         ELSE '' END AS t FROM documents),
        |tok AS (SELECT doc_id, string_split_regex(lower(trim(t)), '\s+') AS toks FROM base),
        |pos AS (SELECT doc_id, len(toks) AS n, toks,
        |        unnest(range(1, len(toks) + 1)) AS p FROM tok),
        |win AS (SELECT doc_id, p, mm.m AS m,
        |        array_to_string(toks[p:p+mm.m-1], ' ') AS s
        |  FROM pos, (SELECT unnest(range(8, 65)) AS m) mm
        |  WHERE p + mm.m - 1 <= n),
        |dup AS (SELECT m, s FROM win GROUP BY 1, 2 HAVING count(*) > 1),
        |lm AS (SELECT w.doc_id, w.p, max(w.m) AS l
        |  FROM win w JOIN dup USING (m, s) GROUP BY 1, 2),
        |f AS (SELECT doc_id, p, l,
        |        lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp,
        |        lag(l) OVER (PARTITION BY doc_id ORDER BY p) AS pl
        |  FROM lm WHERE l >= 8)
        |SELECT doc_id, p - 1 AS start_tok, p - 1 + l AS end_tok, l AS ntok,
        |       (l = 64) AS capped
        |FROM f
        |WHERE pp IS NULL OR pp <> p - 1
        |   OR NOT (pl = l + 1 OR (pl = 64 AND l = 64))""".stripMargin),

    // Cross-corpus overlap via KMV sketches — the sketch-space answer
    // to d13's exact overlap join (two O(k)-state passes instead of a
    // full shuffle of both corpora). Every output column is integer
    // arithmetic on the two bottom-k hash sets, restated exactly by the
    // oracle; measured: union est 471 / exact 500, intersection est
    // 147 / exact 167 at k=64 on sf0.01 — inside the 1/√62 RSE.
    ("d26_kmv_overlap",
      (s, sf) => {
        val d = table(s, sf, "documents")
        graft.ops.Sketches.kmvOverlap(d, col("text"),
          d.filter(col("doc_id") % 3 === 0), col("text"),
          k = 64, salt = "kmvo")
      },
      """WITH ha AS (SELECT DISTINCT
        |    ('0x' || substr(md5('kmvo:' || text), 1, 13))::BIGINT AS h
        |  FROM documents),
        |hb AS (SELECT DISTINCT
        |    ('0x' || substr(md5('kmvo:' || text), 1, 13))::BIGINT AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        |       ORDER BY h LIMIT 64)
        |SELECT m_union, n_common, d_union,
        |  (n_common * d_union) // m_union AS inter_est
        |FROM (SELECT (SELECT count(*) FROM ku)::BIGINT AS m_union,
        |    (SELECT count(*) FROM ku WHERE h IN (SELECT h FROM ka)
        |       AND h IN (SELECT h FROM kb))::BIGINT AS n_common,
        |    CASE WHEN (SELECT count(*) FROM ku) < 64
        |         THEN (SELECT count(*) FROM ku)::BIGINT
        |         ELSE (63::BIGINT * 4503599627370496)
        |              // (SELECT max(h) FROM ku) END AS d_union)""".stripMargin),

    // LSH candidates + exact verification ⇒ same rows as the exact oracle
    // (recall at j≥0.8 with 16×4 bands is 1-(1-j⁴)¹⁶ > 1-10⁻⁸)
    ("d03_minhash_lsh",
      (s, sf) => Dedup.minHashNearDups(table(s, sf, "documents"), col("doc_id"), col("text"),
        n = 3, threshold = 0.8).select(col("id_a"), col("id_b")),
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8""".stripMargin),

    ("d05_embed_neardup",
      (s, sf) => Dedup.embeddingNearDups(table(s, sf, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.45, exact = true)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 3).as("cos3")),
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "ROUND(list_cosine_similarity(a.embedding, b.embedding), 3) AS cos3 " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45"),

    // banded-LSH mode on the SCALE-SAFE no-knob path (autoLshParams
    // derives (bands, rowsPerBand) bounding random-pair candidates to
    // O(n) — the spelling users should copy; r13 verdict item 7): a
    // planted near-dup set (every 5th vector re-issued with coordinate 0
    // scaled 1.1×, cosine ≥ 0.995 worst-case / ~0.9995 typical) against
    // the exact all-pairs oracle at threshold 0.985 — natural pairs top
    // out at ~0.50 (testdata) / ~0.965 (DataGen same-center), so the
    // qualifying set is exactly the planted pairs and stays LINEAR in n
    // at every smoke scale. Per-pair miss probability at the derived
    // knobs is < 1e-7 and the hashes are seed-deterministic, so
    // LSH output ≡ exact output is a measured, reproducible fact (both
    // SFs + determinism sweep). The recall-first explicit-knob (32×4 at
    // 0.45) configuration this gate used through round 15 survives as
    // the OpsSpec contrast test ("explicit 32x4 equals exact mode").
    ("d07_embed_neardup_lsh",
      (s, sf) => {
        val base = table(s, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val planted = base.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"),
            concat(array(element_at(col("embedding"), 1) * 1.1),
              slice(col("embedding"), lit(2), size(col("embedding")) - 1))
              .as("embedding"))
        Dedup.embeddingNearDups(base.unionByName(planted), col("vec_id"),
          col("embedding"), threshold = 0.985)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 3).as("cos3"))
      },
      """WITH u AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    list_prepend(embedding[1]::DOUBLE * 1.1, embedding[2:]::DOUBLE[])
        |  FROM embeddings WHERE vec_id % 5 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 3) AS cos3
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.985""".stripMargin),

    // SimHash with the cross-engine portable token hash: the DuckDB twin
    // recomputes the full pipeline (polynomial token hashes → per-bit ±1
    // sums → sign bits → Hamming ≤ 3 over all pairs); Spark's 16-bit
    // chunk banding has guaranteed recall 1 at hamming ≤ 3 (pigeonhole),
    // so banded output ≡ the oracle's brute-force pairs
    ("d04_simhash_pairs",
      // native per-row portable signatures (bit-identical to the
      // explode + aggregate reference formulation in OpsSpec, with no
      // explode shuffle)
      (s, sf) => Dedup.simHashNearDups(table(s, sf, "documents"), col("doc_id"), col("text"),
        maxHamming = 3),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(7::BIGINT, list_transform(string_split(tok, ''),
        |      c -> ord(c)::BIGINT)), (a, c) -> (a * 31 + c) % 1000000007) * 4294967296
        |  + list_reduce(list_prepend(7::BIGINT, list_transform(string_split(tok, ''),
        |      c -> ord(c)::BIGINT)), (a, c) -> (a * 131 + c) % 998244353) AS th
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, i,
        |    CASE WHEN SUM(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM th, range(64) t(i) GROUP BY doc_id, i)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)::INT AS hamming
        |FROM bits a JOIN bits b ON a.i = b.i AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING hamming <= 3""".stripMargin),

    // benchmark decontamination: train docs sharing a 4-gram with the
    // pseudo eval split (doc_id % 50 = 0); eval shingles broadcast, the
    // train side never shuffles
    ("d09_decontaminate",
      (s, sf) => {
        val d = table(s, sf, "documents")
        Dedup.contaminated(
          d.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      },
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ array_to_string(toks[i:i+3], ' ')
        |       FOR i IN range(1, greatest(len(toks)-2, 2)) ])) AS sh FROM t)
        |SELECT DISTINCT a.doc_id FROM sh a
        |JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0) e ON a.sh = e.sh
        |WHERE a.doc_id % 50 <> 0""".stripMargin),

    // the Bloom-bitset decontamination path (no join at all: the train
    // scan probes a plan-literal full-width double-hashing bitset of the
    // eval shingle hashes). One-sided: contaminated docs are never
    // missed, so the gate shares d09's exact oracle — green iff the
    // fpp=1e-9 bitset flags ZERO false positives on this fixture, which
    // the hash compare itself proves (deterministic: bitset contents are
    // a pure function of the data; expected FPs here ≈ 2.5e-4)
    ("d10_decontaminate_bloom",
      (s, sf) => {
        val d = table(s, sf, "documents")
        Dedup.contaminatedBloom(
          d.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      },
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ array_to_string(toks[i:i+3], ' ')
        |       FOR i IN range(1, greatest(len(toks)-2, 2)) ])) AS sh FROM t)
        |SELECT DISTINCT a.doc_id FROM sh a
        |JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0) e ON a.sh = e.sh
        |WHERE a.doc_id % 50 <> 0""".stripMargin),

    // contamination REPORT: per contaminated train doc the distinct-
    // shingle total, the hit count against the eval split, and the
    // overlap fraction — the drop-vs-trim decision numbers. One keyed
    // shuffle (map-side combined) + the same broadcast eval set as d09.
    ("d11_contamination_report",
      (s, sf) => {
        val d = table(s, sf, "documents")
        Dedup.contaminationReport(
          d.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      },
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ array_to_string(toks[i:i+3], ' ')
        |       FOR i IN range(1, greatest(len(toks)-2, 2)) ])) AS sh FROM t),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
        |hits AS (SELECT a.doc_id, count(*) AS n_hits FROM sh a JOIN ev USING (sh)
        |         WHERE a.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT h.doc_id, t.n_shingles, h.n_hits,
        |       h.n_hits::DOUBLE / t.n_shingles AS frac
        |FROM hits h JOIN tot t USING (doc_id)""".stripMargin),

    // the ZERO-shuffle spelling: per-doc hit counts fold inside the scan
    // via a higher-order aggregate probing the plan-literal Bloom bitset
    // (no explode, no join, no exchange). One-sided like d10 — n_hits
    // can only overcount at ≈fpp per shingle, so sharing d11's exact
    // oracle is green iff the 1e-9 bitset flags ZERO false probes on
    // this fixture (expected FPs ≈ 2.5e-4; the hash compare proves it)
    ("d12_contamination_report_bloom",
      (s, sf) => {
        val d = table(s, sf, "documents")
        Dedup.contaminationReportBloom(
          d.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      },
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ array_to_string(toks[i:i+3], ' ')
        |       FOR i IN range(1, greatest(len(toks)-2, 2)) ])) AS sh FROM t),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
        |hits AS (SELECT a.doc_id, count(*) AS n_hits FROM sh a JOIN ev USING (sh)
        |         WHERE a.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT h.doc_id, t.n_shingles, h.n_hits,
        |       h.n_hits::DOUBLE / t.n_shingles AS frac
        |FROM hits h JOIN tot t USING (doc_id)""".stripMargin),

    // CORPUS-level overlap: one row of (n_a, n_b, n_inter, n_union,
    // jaccard) over the two splits' distinct shingle sets — "how much
    // of corpus B is already in corpus A". One shingle-keyed shuffle
    // with map-side combine; never a join. Oracle: DuckDB full-join of
    // the two distinct sets.
    ("d13_corpus_overlap",
      (s, sf) => {
        val d = table(s, sf, "documents")
        Dedup.corpusOverlap(
          d.filter(col("doc_id") % 50 =!= 0), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 4)
      },
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([ array_to_string(toks[i:i+3], ' ')
        |       FOR i IN range(1, greatest(len(toks)-2, 2)) ])) AS sh FROM t),
        |a AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 <> 0),
        |b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
        |m AS (SELECT (a.sh IS NOT NULL)::BIGINT AS in_a,
        |             (b.sh IS NOT NULL)::BIGINT AS in_b
        |      FROM a FULL JOIN b ON a.sh = b.sh)
        |SELECT sum(in_a)::BIGINT AS n_a, sum(in_b)::BIGINT AS n_b,
        |       sum(in_a * in_b)::BIGINT AS n_inter,
        |       count(*) AS n_union,
        |       sum(in_a * in_b)::DOUBLE / count(*) AS jaccard FROM m""".stripMargin),

    // ---- similarity search ---------------------------------------------
    ("s01_cosine_topk",
      (s, sf) => Similarity.bruteForceTopK(
        table(s, sf, "embeddings").filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        queryVec(s, sf), k = 10)
        .select(col("vec_id"), round(col("cosine"), 3).as("cos3")),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, ROUND(list_cosine_similarity(embedding, (SELECT qv FROM q)), 3) AS cos3
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding, (SELECT qv FROM q)) DESC, vec_id
        |LIMIT 10""".stripMargin),

    // exact kNN self-join (broadcast path) against a brute-force
    // cross-join + window twin in DuckDB; cosines computed in double on
    // both sides (embedding::DOUBLE[]) so ranks agree bit-for-bit
    ("s04_knn_join",
      (s, sf) => {
        val e = table(s, sf, "embeddings")
        Similarity.knnJoinBroadcast(e, e, col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 3)
          .select(col("q_id"), col("c_id"),
            (floor(col("cosine") * 1000 + 0.5) / 1000).as("cos3"), col("rank"))
      },
      """WITH p AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
        |               b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        |SELECT q_id, c_id, floor(cos * 1000 + 0.5) / 1000 AS cos3, rank::INT AS rank
        |FROM p WHERE rank <= 3""".stripMargin),

    // ANN gates: measured recall@10 against the exact baseline (itself
    // oracle-gated via s01) over 20 query vectors; the oracle pins the
    // verdict row, including the floor. Deterministic: seeded planes /
    // centroids, fixed data. Floors are regression tripwires set just
    // below the measured values — the synthetic embeddings are near-
    // random (top-10 cosines ~0.2–0.4), the worst case for any sublinear
    // ANN: recall 0.9 here would require probing >70% of the corpus,
    // which stops being "approximate". Measured at these knobs:
    // LSH(8 planes, probe≤3) = 0.58 scanning ~36%; IVF(16 lists,
    // probe 6) = 0.74 scanning ~38%; kNN-IVF(16, 8) = 0.82 scanning 50%.
    ("s02_ann_lsh_topk",
      (s, sf) => annRecallGate(s, sf, floorPct = 50)(annLsh),
      "SELECT 20 AS n_queries, 50 AS floor_pct, true AS recall_floor_met"),

    ("s03_ann_ivf_topk",
      (s, sf) => {
        var idx: Similarity.IvfIndex = null
        var probe = 6
        annRecallGate(s, sf, floorPct = 70) { (corpus, qv) =>
          if (idx == null) {
            // gate calibration, not an operator knob: probe 6/16 (37%)
            // clears the 70% floor from sf0.01 up; a sub-1000-row corpus
            // of near-random vectors needs a wider probe for the same
            // floor (k-means lists are noise-dominated at that size)
            probe = if (corpus.count() < 1000) 10 else 6
            idx = annIvfBuild(corpus)
          }
          idx.topK(qv, k = 10, nProbe = probe)
        }
      },
      "SELECT 20 AS n_queries, 70 AS floor_pct, true AS recall_floor_met"),

    // IVF-partitioned kNN join (the non-broadcast scale path) measured
    // against the broadcast-exact join it approximates (recall 0.82 at
    // nProbe 8 of 16 on this data; floor 0.75)
    ("s05_knn_join_ivf",
      (s, sf) => {
        import s.implicits._
        val e = table(s, sf, "embeddings")
        def pairs(df: DataFrame) =
          df.select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
        val exact = pairs(Similarity.knnJoinBroadcast(e, e, col("vec_id"),
          col("embedding"), col("vec_id"), col("embedding"), k = 3))
        val approx = pairs(knnIvf(e, e))
        val recall = (approx & exact).size.toDouble / exact.size
        s.createDataFrame(Seq((3, 75, recall >= 0.75)))
          .toDF("k", "floor_pct", "recall_floor_met")
      },
      "SELECT 3 AS k, 75 AS floor_pct, true AS recall_floor_met"),

    // high-recall ANN contract on clustered (real-corpus-shaped) data:
    // same operators, auto-scaled IVF knobs, floors at 90% — the
    // near-random driver embeddings cap the s02/s03/s05 floors at 50–75%
    // by fixture, not by operator (OpsQueries.scala s02 comment)
    ("s06_ann_lsh_clustered",
      (s, sf) => annRecallGateOn(s, clusteredEmb(s), floorPct = 90)(annLsh),
      "SELECT 20 AS n_queries, 90 AS floor_pct, true AS recall_floor_met"),

    ("s07_ann_ivf_clustered",
      (s, sf) => {
        var idx: Similarity.IvfIndex = null
        annRecallGateOn(s, clusteredEmb(s), floorPct = 90) { (corpus, qv) =>
          if (idx == null) idx = annIvfAuto(corpus)
          annIvfAutoProbe(idx, qv)
        }
      },
      "SELECT 20 AS n_queries, 90 AS floor_pct, true AS recall_floor_met"),

    // auto-scaled IVF kNN join (nLists ≈ √n, 12.5% probe): the fixed-knob
    // s05 configuration probes 50% of the corpus at ANY size — candidate
    // volume n²/2, measured 56 s at sf1 — while the auto knobs bound it
    // at nProbe·√n per query AND hold recall ≥ 0.9 on clustered data
    ("s08_knn_join_ivf_auto",
      (s, sf) => {
        import s.implicits._
        val e = clusteredEmb(s)
        def pairs(df: DataFrame) =
          df.select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
        val exact = pairs(Similarity.knnJoinBroadcast(e, e, col("vec_id"),
          col("embedding"), col("vec_id"), col("embedding"), k = 3))
        val approx = pairs(knnIvfAuto(e, e))
        val recall = (approx & exact).size.toDouble / exact.size
        s.createDataFrame(Seq((3, 90, recall >= 0.9)))
          .toDF("k", "floor_pct", "recall_floor_met")
      },
      "SELECT 3 AS k, 90 AS floor_pct, true AS recall_floor_met"),

    // product-quantization ANN: ADC scan over the compact codes + exact
    // re-rank, gated on EXACT equality with s01's brute-force DuckDB
    // oracle — the compression path must reproduce the full-precision
    // answer, not just a recall floor. rerank = corpus/3 is GATE
    // CALIBRATION for this near-random fixture (PQ's hardest regime:
    // probed max ADC rank of a true top-10 neighbor is n/4.6 at sf0.001,
    // n/26 at sf0.01, n/13 at sf0.1 — deterministic, seeded), not an
    // operator default; on clustered corpus shapes the spec holds full
    // recall at rerank = corpus/20 (2× the cluster size — the tie class
    // ADC cannot split).
    // IVF+PQ composite (the FAISS-IVFADC deployment shape) on the
    // clustered fixture: probe 6/16 lists, ADC-scan only their codes,
    // exact re-rank of 150 — measured recall@10 over 20 queries vs the
    // brute baseline must clear the pinned floor
    ("s20_ann_ivfpq",
      (s, _) => {
        var idx: Similarity.IvfPqIndex = null
        val res = annRecallGateOn(s, clusteredEmb(s), floorPct = 90) { (corpus, qv) =>
          if (idx == null)
            idx = Similarity.buildIvfPq(corpus, col("vec_id"), col("embedding"),
              nLists = 16, m = 8, kCode = 16)
          idx.topK(qv, k = 10, nProbe = 6, rerank = 150)
        }
        // release the build caches once the recall loop is done — the
        // composite build pins codes+assignment+normalized corpus
        if (idx != null) idx.close()
        res
      },
      "SELECT 20 AS n_queries, 90 AS floor_pct, true AS recall_floor_met"),

    ("s09_pq_topk",
      (s, sf) => {
        val e = table(s, sf, "embeddings").filter(col("vec_id") =!= 0)
        val idx = Similarity.buildPq(e, col("vec_id"), col("embedding"),
          m = 16, kCode = 16)
        val rerank = math.max(150, (e.count() / 3).toInt)
        idx.topK(queryVec(s, sf), k = 10, rerank = rerank)
          .select(col("vec_id"), round(col("cosine"), 3).as("cos3"))
      },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, ROUND(list_cosine_similarity(embedding, (SELECT qv FROM q)), 3) AS cos3
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding, (SELECT qv FROM q)) DESC, vec_id
        |LIMIT 10""".stripMargin),

    // int8 scalar-quantized scan, PROVABLY exact: the ε-band re-rank
    // (ε = ‖q̂‖₁/254, the int8 error bound) must contain the true top-10
    // by construction — so the result EQUALS the exact oracle with no
    // calibrated rerank knob at any corpus size
    ("s10_sq8_topk",
      (s, sf) => {
        val e = table(s, sf, "embeddings").filter(col("vec_id") =!= 0)
        Similarity.buildSq8(e, col("vec_id"), col("embedding"))
          .topKExact(queryVec(s, sf), k = 10)
          .select(col("vec_id"), round(col("cosine"), 3).as("cos3"))
      },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, ROUND(list_cosine_similarity(embedding, (SELECT qv FROM q)), 3) AS cos3
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding, (SELECT qv FROM q)) DESC, vec_id
        |LIMIT 10""".stripMargin),

    // metadata-FILTERED vector search: top-10 cosine among label=2
    // vectors only — PRE-filter semantics (the predicate cuts the
    // corpus before scoring, so the result is full whenever k matches
    // exist; post-filtering an ANN result under-fills). The label
    // predicate reaches the parquet scan (plan-guarded)
    ("s12_filtered_ann",
      (s, sf) => Similarity.filteredTopK(
        table(s, sf, "embeddings").filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        col("label") === 2, queryVec(s, sf), k = 10)
        .select(col("vec_id"), round(col("cosine"), 3).as("cos3")),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, ROUND(list_cosine_similarity(embedding, (SELECT qv FROM q)), 3) AS cos3
        |FROM embeddings WHERE vec_id <> 0 AND label = 2
        |ORDER BY list_cosine_similarity(embedding, (SELECT qv FROM q)) DESC, vec_id
        |LIMIT 10""".stripMargin),

    // Matryoshka funnel retrieval: cheap prefix-dims cosine pass keeps 60
    // candidates, exact full-width re-rank returns 10 — both stages
    // top-k scans with id tie-breaks, restated stage-for-stage by DuckDB
    ("s16_matryoshka_topk",
      (s, sf) => Similarity.matryoshkaTopK(
        table(s, sf, "embeddings").filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        queryVec(s, sf), mDims = 8, rerank = 60, k = 10)
        .select(col("vec_id"), round(col("cosine"), 3).as("cos3")),
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |pre AS (SELECT vec_id, embedding::DOUBLE[] AS ev,
        |    list_cosine_similarity((embedding::DOUBLE[])[1:8],
        |      (SELECT qv[1:8] FROM q)) AS pc
        |  FROM embeddings WHERE vec_id <> 0),
        |cand AS (SELECT vec_id, ev FROM pre ORDER BY pc DESC, vec_id LIMIT 60)
        |SELECT vec_id,
        |  ROUND(list_cosine_similarity(ev, (SELECT qv FROM q)), 3) AS cos3
        |FROM cand
        |ORDER BY list_cosine_similarity(ev, (SELECT qv FROM q)) DESC, vec_id
        |LIMIT 10""".stripMargin),

    // MMR diversified re-rank: 5 greedy picks from the top-20 candidates,
    // λ=0.5; the oracle unrolls the selection stage-for-stage and replays
    // the identical 6-dp-floored scores and tie-breaks
    ("s17_mmr_rerank",
      (s, sf) => Similarity.mmrTopK(
        table(s, sf, "embeddings").filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        queryVec(s, sf), k = 5, nCand = 20, lambda = 0.5),
      mmrOracleSql(k = 5, nCand = 20)),

    // embedding-space outlier report: the 20 vectors least aligned with
    // the corpus centroid — the cleaning pass that catches corrupted
    // encodes before they poison an index. Centroid = one per-position
    // map-side-combined mean re-entered as a plan literal; ranking is on
    // the 4-dp-rounded cosine (+ id tiebreak) so float-sum last-bit noise
    // cannot reorder either engine. DuckDB rebuilds the same centroid
    // with a position cross-join and ranks identically
    ("s11_embed_outliers",
      (s, sf) => Similarity.embeddingOutliers(
        table(s, sf, "embeddings"), col("vec_id"), col("embedding"), k = 20),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT max(len(v)) AS nd FROM e),
        |g AS (SELECT unnest(range(1, (SELECT nd FROM d) + 1)) AS i),
        |pos AS (SELECT i, avg(v[i]) AS m FROM e, g GROUP BY i),
        |cent AS (SELECT list(m ORDER BY i) AS c FROM pos)
        |SELECT vec_id,
        |  floor(list_cosine_similarity(v, (SELECT c FROM cent)) * 10000 + 0.5) / 10000 AS cos4
        |FROM e
        |ORDER BY cos4 ASC, vec_id
        |LIMIT 20""".stripMargin),

    // ---- cluster dedup (pairs → components → canonical survivors) -------
    // near-dup similarity is pairwise; dedup policy is per transitive
    // closure. The Spark side runs MinHash-LSH pairs (≡ the exact pair
    // relation on this data — the d03 gate) then iterative min-label
    // propagation; the oracle recomputes the exact pairs and closes them
    // with a recursive CTE — two entirely different fixpoint algorithms
    // that must land on the same labeling
    ("c01_dedup_clusters",
      (s, sf) => {
        val d = table(s, sf, "documents")
        Dedup.connectedComponents(
          Dedup.minHashNearDups(d, col("doc_id"), col("text"), n = 3, threshold = 0.8),
          col("id_a"), col("id_b"), d, col("doc_id"))
          .select(col("node").as("doc_id"), col("label").as("canonical"))
      },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b)
        |SELECT id AS doc_id, MIN(l) AS canonical FROM r GROUP BY id""".stripMargin),

    // semi-supervised label propagation: labels on the 10% doc subset
    // propagate to every member of the doc's near-dup cluster by
    // majority vote (ties → smallest label; unlabeled clusters NULL) —
    // the step that turns a 1% labeling budget into corpus-wide labels,
    // sound because near-duplicates share the label by construction
    ("c03_label_propagation",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.minHashNearDups(d, col("doc_id"), col("text"), n = 3, threshold = 0.8),
          col("id_a"), col("id_b"), d, col("doc_id"))
        Dedup.propagateLabels(clusters, col("node"), col("label"),
          d.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"))
      },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b),
        |cl AS (SELECT id AS doc_id, MIN(l) AS canonical FROM r GROUP BY id),
        |lb AS (SELECT doc_id, lang AS lab FROM documents WHERE doc_id % 10 = 0),
        |votes AS (SELECT cl.canonical AS c, lb.lab, count(*) AS n
        |  FROM cl JOIN lb USING (doc_id) GROUP BY 1, 2),
        |win AS (SELECT c, lab, n FROM (SELECT c, lab, n,
        |    row_number() OVER (PARTITION BY c ORDER BY n DESC, lab) AS rk FROM votes)
        |  WHERE rk = 1)
        |SELECT cl.doc_id AS id, cl.canonical AS cluster, win.lab AS label,
        |  win.n::BIGINT AS n_votes
        |FROM cl LEFT JOIN win ON cl.canonical = win.c""".stripMargin),

    // canonical-doc selection AFTER clustering: keep the longest member
    // of each near-dup family (token count desc, id asc), every member
    // emitted with its verdict so the drop set is auditable
    ("c04_keep_best",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.minHashNearDups(d, col("doc_id"), col("text"), n = 3,
            threshold = 0.8),
          col("id_a"), col("id_b"), d, col("doc_id"))
        Dedup.keepBestPerCluster(clusters, col("node"), col("label"),
          d.select(col("doc_id"), TextOps.tokenCount(col("text")).as("ntok")),
          col("doc_id"), col("ntok"))
      },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b),
        |cl AS (SELECT id AS doc_id, MIN(l) AS cluster FROM r GROUP BY id),
        |nt AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+'))
        |    END AS ntok
        |  FROM documents)
        |SELECT cluster, doc_id AS id, ntok AS metric, rn = 1 AS kept
        |FROM (SELECT cl.cluster, cl.doc_id, nt.ntok,
        |    row_number() OVER (PARTITION BY cl.cluster
        |      ORDER BY nt.ntok DESC, cl.doc_id ASC) AS rn
        |  FROM cl JOIN nt USING (doc_id))""".stripMargin),

    // leakage-AWARE negative sampling: k=3 deterministic contrastive
    // negatives per doc, drawn by the portable hash over a dense id
    // dictionary and EXCLUDING the anchor's near-dup cluster (c01's
    // labeling — a near-duplicate "negative" is the classic contrastive
    // bug). The oracle composes three proven fragments: the c01
    // recursive-CTE clustering, the p06 row_number dictionary, and the
    // p01 portable polyhash — and re-derives the exact draws
    ("p10_negative_samples",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.minHashNearDups(d, col("doc_id"), col("text"), n = 3, threshold = 0.8),
          col("id_a"), col("id_b"), d, col("doc_id"))
        graft.ops.Pipeline.negativeSamples(clusters, col("node"), col("label"),
          k = 3, salt = "neg1")
      },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b),
        |cl AS (SELECT id AS doc_id, MIN(l) AS canonical FROM r GROUP BY id),
        |b AS (SELECT doc_id::VARCHAR AS aid, canonical::VARCHAR AS acl FROM cl),
        |dict AS (SELECT value, row_number() OVER (ORDER BY value) - 1 AS idx
        |         FROM (SELECT DISTINCT doc_id::VARCHAR AS value FROM documents)),
        |nn AS (SELECT count(*) AS n FROM dict),
        |tries AS (SELECT aid, acl, j,
        |    list_reduce(list_prepend(7::BIGINT, list_transform(
        |      string_split('neg1:' || aid || ':' || j::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |      (a, c) -> (a * 257 + c) % 2147483647) % (SELECT n FROM nn) AS idx
        |  FROM b, (SELECT unnest(range(1, 7)) AS j) g),
        |cand AS (SELECT t.aid, t.j, d.value AS nid, b2.acl AS ncl, t.acl AS acl
        |  FROM tries t JOIN dict d ON t.idx = d.idx JOIN b b2 ON b2.aid = d.value)
        |SELECT aid AS id, row_number() OVER (PARTITION BY aid ORDER BY j) AS rank,
        |  nid AS neg_id
        |FROM cand WHERE nid <> aid AND ncl <> acl
        |QUALIFY rank <= 3""".stripMargin),

    // paragraph-level exact dedup: the fixture docs are single-line, so
    // the gate builds multi-paragraph documents in the query itself —
    // two text slices plus a boilerplate footer planted TWICE per doc
    // (exercising within-doc and cross-doc dedup at once). Only the
    // lowest-doc_id instance of the footer survives corpus-wide; slice
    // paragraphs dedup wherever the word-salad happens to repeat, and
    // the oracle re-derives the identical first-occurrence relation.
    ("d15_dedup_paragraphs",
      (s, sf) => Dedup.dedupParagraphs(
        table(s, sf, "documents").select(col("doc_id"), concat_ws("\n",
          substring(col("text"), 1, 40), lit("COMMON FOOTER LINE ALPHA"),
          substring(col("text"), 41, 40), lit("COMMON FOOTER LINE ALPHA"))
          .as("text")),
        col("doc_id"), col("text")),
      """WITH base AS (SELECT doc_id,
        |    substr(text, 1, 40) || chr(10) || 'COMMON FOOTER LINE ALPHA' || chr(10) ||
        |    substr(text, 41, 40) || chr(10) || 'COMMON FOOTER LINE ALPHA' AS t
        |  FROM documents),
        |p AS (SELECT doc_id,
        |    unnest([{'pos': i, 'para': lns[i]} FOR i IN range(1, len(lns)+1)],
        |           recursive := true)
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS lns FROM base)),
        |r AS (SELECT doc_id, pos, para, lower(trim(para)) AS norm,
        |    ROW_NUMBER() OVER (PARTITION BY lower(trim(para))
        |                       ORDER BY doc_id, pos) AS rn FROM p)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM r WHERE len(norm) < 5 OR rn = 1
        |GROUP BY doc_id""".stripMargin),

    // SemDeDup: the embeddings fixture is near-random (max natural cosine
    // ~0.5), so the gate PLANTS one near-duplicate per vector in the
    // query itself — a copy at vec_id+100000 with a deterministic ±0.2%
    // per-dim relative perturbation (seeded integer arithmetic). Planted
    // pairs sit at cosine ≥ 0.999998 — same k-means cluster by
    // construction (centroid distances differ by at most the
    // perturbation) — and every cross pair is ≤ ~0.5, far under the 0.99
    // threshold. The expected survivor set is therefore EXACTLY the
    // original ids, which the oracle states without needing the
    // perturbation formula: a missed pair, dropped singleton, or wrong
    // per-component representative each breaks the equality.
    ("d14_semdedup",
      (s, sf) => {
        val e = table(s, sf, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val perturbed = e.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i0) =>
            x * (lit(1.0) + ((col("vec_id") * 131 + (i0 + 1) * 773) % 1000 - 500)
              .cast("double") * lit(4e-6))).as("embedding"))
        val n = e.count()
        Dedup.semDedup(e.union(perturbed), col("vec_id"), col("embedding"),
          nClusters = math.max(20, (n / 250).toInt), threshold = 0.99)
          .select(col("vec_id"))
      },
      "SELECT vec_id FROM embeddings"),

    // end-to-end fuzzy corpus dedup: one surviving row per cluster
    ("c02_fuzzy_dedup",
      (s, sf) => Dedup.fuzzyDedupCorpus(table(s, sf, "documents"), col("doc_id"), col("text"),
        n = 3, threshold = 0.8).select(col("doc_id"), col("lang")),
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b)
        |SELECT d.doc_id, d.lang FROM documents d
        |JOIN (SELECT id, MIN(l) AS canonical FROM r GROUP BY id) m
        |  ON d.doc_id = m.id AND d.doc_id = m.canonical""".stripMargin),

    // ---- corpus assembly (deterministic sampling, shard packing) --------
    // the keep/drop decision is a portable polynomial hash of (id, salt)
    // — no RNG, no partition dependence — so DuckDB re-derives the exact
    // surviving row set from the same fold
    ("p01_stratified_sample",
      (s, sf) => graft.ops.Pipeline.stratifiedSample(table(s, sf, "documents"), col("doc_id"),
        col("lang"), Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, salt = "mix1")
        .select(col("doc_id"), col("lang")),
      "SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
        "list_reduce(list_prepend(7::BIGINT, list_transform(" +
        "string_split('mix1:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)), " +
        "(a, c) -> (a * 257 + c) % 2147483647) % 10000 AS bk FROM documents) " +
        "WHERE bk < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END"),

    // data mixing: per-source token budgets → derived integer keep-rate
    // thresholds (floor division, bit-identical cross-engine) → the same
    // portable hash-bucket keep/drop as p01. src1's budget exceeds its
    // availability (rate clamps to 1), src0/src3 sample down, every
    // unbudgeted source drops entirely.
    ("p03_token_mixture",
      (s, sf) => graft.ops.Pipeline.mixByTokenBudget(table(s, sf, "documents"), col("doc_id"),
        col("source"), TextOps.tokenCount(col("text")),
        Map("src0" -> 600L, "src1" -> 100000L, "src3" -> 300L), salt = "mix2")
        .select(col("doc_id"), col("source")),
      """WITH t AS (SELECT doc_id, source,
        |    CASE WHEN trim(text)='' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |    list_reduce(list_prepend(7::BIGINT, list_transform(
        |      string_split('mix2:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |      (a, c) -> (a * 257 + c) % 2147483647) % 10000 AS bk
        |  FROM documents),
        |s AS (SELECT source, SUM(ntok) AS tot FROM t GROUP BY source)
        |SELECT doc_id, source FROM t JOIN s USING (source)
        |WHERE bk < least(10000,
        |  (CASE source WHEN 'src0' THEN 600 WHEN 'src1' THEN 100000
        |               WHEN 'src3' THEN 300 ELSE 0 END) * 10000 // tot)""".stripMargin),

    // two-level prefix sum ≡ the oracle's single global window
    ("p02_pack_shards",
      (s, sf) => graft.ops.Pipeline.packByTokenBudget(table(s, sf, "documents"), col("doc_id"),
        TextOps.tokenCount(col("text")), budget = 2000, bucketWidth = 64),
      "SELECT doc_id, ntok, CAST(floor((SUM(ntok) OVER (ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - ntok) / 2000) AS BIGINT) AS shard " +
        "FROM (SELECT doc_id, CASE WHEN trim(text)='' THEN 0 ELSE " +
        "len(string_split_regex(lower(trim(text)), '\\s+')) END AS ntok FROM documents)"),

    // ---- text analysis --------------------------------------------------
    ("t01_token_count",
      (s, sf) => table(s, sf, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ntok"),
        TextOps.stopwordCount(col("text")).as("nstop")),
      "SELECT doc_id, CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(lower(trim(text)),'\\s+')) END AS ntok, " +
        "CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(string_split_regex(lower(trim(text)),'\\s+'), " +
        "x -> x IN ('the','a','of','and','to','in','is'))) END AS nstop FROM documents"),

    ("t02_quality_score",
      (s, sf) => table(s, sf, "documents").select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality")),
      """SELECT doc_id, floor((
        |  0.4 * (CASE WHEN ntok=0 THEN 0 ELSE nstop::DOUBLE/ntok END)
        |+ 0.3 * least(ntok/100.0, 1.0)
        |+ 0.3 * (1.0 - CASE WHEN len(text)=0 THEN 0 ELSE npunct::DOUBLE/len(text) END)) * 10000 + 0.5) / 10000 AS quality
        |FROM (SELECT doc_id, text,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(string_split_regex(lower(trim(text)),'\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is'))) END AS nstop,
        |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS npunct
        |FROM documents)""".stripMargin),

    ("t03_lang_id",
      (s, sf) => table(s, sf, "documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("pred_lang")),
      """SELECT doc_id, CASE
        |  WHEN en = best AND best > 0 THEN 'en'
        |  WHEN de = best AND best > 0 THEN 'de'
        |  WHEN fr = best AND best > 0 THEN 'fr'
        |  WHEN es = best AND best > 0 THEN 'es'
        |  ELSE 'und' END AS pred_lang
        |FROM (SELECT doc_id, en, de, fr, es, greatest(en, de, fr, es) AS best
        |FROM (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y','es','uno','una'))) AS es
        |FROM (SELECT doc_id, string_split_regex(lower(trim(text)),'\s+') AS toks FROM documents)))""".stripMargin),

    // label-quality audit: the confusion matrix between the table's lang
    // column and the n-gram language-ID prediction — the agreement check
    // run before TRUSTING either signal for mixture design. Composes the
    // t03 heuristic; one (lang, pred) aggregate
    ("t30_lang_confusion",
      (s, sf) => table(s, sf, "documents")
        .select(col("lang"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n")),
      """SELECT lang, CASE
        |  WHEN en = best AND best > 0 THEN 'en'
        |  WHEN de = best AND best > 0 THEN 'de'
        |  WHEN fr = best AND best > 0 THEN 'fr'
        |  WHEN es = best AND best > 0 THEN 'es'
        |  ELSE 'und' END AS pred_lang, count(*) AS n
        |FROM (SELECT lang, en, de, fr, es, greatest(en, de, fr, es) AS best
        |FROM (SELECT lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y','es','uno','una'))) AS es
        |FROM (SELECT lang, string_split_regex(lower(trim(text)),'\s+') AS toks FROM documents)))
        |GROUP BY 1, 2""".stripMargin),

    ("t06_doc_freq",
      (s, sf) => TextOps.documentFrequency(table(s, sf, "documents"), col("text")),
      "SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, unnest(" +
        "list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS term " +
        "FROM documents WHERE trim(text) <> '') GROUP BY term"),

    // corpus heavy hitters: top-k terms by document frequency — the DF
    // aggregation is map-side combined and the top-k plans as
    // TakeOrderedAndProject (per-partition heaps, no global sort)
    ("t11_top_terms",
      (s, sf) => TextOps.documentFrequency(table(s, sf, "documents"), col("text"))
        .orderBy(col("df").desc, col("term"))
        .limit(20),
      "SELECT term, df FROM (SELECT term, COUNT(*) AS df FROM (" +
        "SELECT DISTINCT doc_id, unnest(list_distinct(string_split_regex(" +
        "lower(trim(text)), '\\s+'))) AS term FROM documents WHERE trim(text) <> '') " +
        "GROUP BY term) ORDER BY df DESC, term LIMIT 20"),

    ("t04_fingerprint",
      (s, sf) => table(s, sf, "documents").select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp")),
      "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents"),

    // the polynomial rolling hash is plain modular arithmetic — DuckDB
    // recomputes it with list_reduce over the same char codes (Spark's
    // split('','') and DuckDB's string_split agree: no trailing empties)
    ("t05_rolling_hash",
      (s, sf) => table(s, sf, "documents").select(col("doc_id"),
        TextOps.rollingHash(col("text")).as("rh")),
      "SELECT doc_id, list_reduce(list_prepend(7::BIGINT, list_transform(" +
        "string_split(lower(trim(text)), ''), c -> ord(c)::BIGINT)), " +
        "(a, c) -> (a * 257 + c) % 2147483647) AS rh FROM documents"),

    // PII scrub over text with a deterministic planted email/URL/id tail
    // (the driver corpus is synthetic and clean — planting in the query
    // itself exercises every pattern on every row, in both engines)
    ("t07_pii_scrub",
      (s, sf) => table(s, sf, "documents").select(col("doc_id"),
        TextOps.scrubPii(concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com via https://ex.example/p?id="),
          col("doc_id").cast("string"), lit(" ref 1234567890123"))).as("scrubbed")),
      "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact user' || doc_id::VARCHAR || '@mail.example.com via " +
        "https://ex.example/p?id=' || doc_id::VARCHAR || ' ref 1234567890123', " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'https?://[!-~]+', '<URL>', 'g'), " +
        "'[0-9]{9,}', '<NUM>', 'g') AS scrubbed FROM documents"),

    ("t08_repetition",
      (s, sf) => TextOps.repetitionMetrics(table(s, sf, "documents"), col("doc_id"), col("text")),
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents),
        |d AS (SELECT doc_id,
        |        CASE WHEN len(toks) = 0 THEN 0
        |             ELSE 1 - len(list_distinct(toks))::DOUBLE / len(toks) END AS dup_raw,
        |        [ toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks)) ] AS bgs
        |      FROM t),
        |c AS (SELECT doc_id, bg, COUNT(*) AS n
        |      FROM (SELECT doc_id, unnest(bgs) AS bg FROM d) GROUP BY 1, 2),
        |tp AS (SELECT doc_id, MAX(n)::DOUBLE / SUM(n) AS top_raw FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  floor(dup_raw * 10000 + 0.5) / 10000 AS dup_token_frac,
        |  floor(coalesce(top_raw, 0) * 10000 + 0.5) / 10000 AS top_bigram_frac
        |FROM d LEFT JOIN tp ON d.doc_id = tp.doc_id""".stripMargin),

    // Gopher quality rules over text with a deterministic planted tail
    // (doc_id mod 3 picks bullet-lines / symbol-lines / nothing): the
    // synthetic corpus is clean word-salad, so planting in the query
    // itself exercises the bullet, ellipsis and symbol rules on real rows
    // in BOTH engines (same trick as t07). Flags compare on the 4-dp
    // rounded metrics, so pass/fail is bit-stable cross-engine.
    ("t12_gopher_quality",
      (s, sf) => TextOps.gopherQuality(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\n• planted bullet\nplain tail..."))
            .when(col("doc_id") % 3 === 1,
              lit("\n# symbols ## here\nok line"))
            .otherwise(lit(""))).as("text")),
        col("doc_id"), col("text")),
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10)||'• planted bullet'||chr(10)||'plain tail...'
        |         WHEN doc_id % 3 = 1 THEN chr(10)||'# symbols ## here'||chr(10)||'ok line'
        |         ELSE '' END AS t FROM documents),
        |m AS (SELECT doc_id, t,
        |    CASE WHEN trim(t)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(t)),'\s+') END AS toks,
        |    string_split(t, chr(10)) AS lns FROM base),
        |r AS (SELECT doc_id,
        |    len(toks) AS n_words,
        |    floor((CASE WHEN len(toks)=0 THEN 0 ELSE
        |      list_sum(list_transform(toks, x -> len(x)))::DOUBLE/len(toks) END)*10000+0.5)/10000 AS mean_wlen,
        |    floor((CASE WHEN len(toks)=0 THEN 0 ELSE
        |      (len(t)-len(replace(replace(t,'#',''),'…','')))::DOUBLE/len(toks) END)*10000+0.5)/10000 AS symbol_ratio,
        |    floor((CASE WHEN len(toks)=0 THEN 0 ELSE
        |      len(list_filter(toks, x -> regexp_matches(x,'[a-z]')))::DOUBLE/len(toks) END)*10000+0.5)/10000 AS alpha_frac,
        |    floor(len(list_filter(lns, l -> regexp_matches(l,'^\s*[-*•]')))::DOUBLE/len(lns)*10000+0.5)/10000 AS bullet_frac,
        |    floor(len(list_filter(lns, l -> regexp_matches(l,'(\.\.\.|…)\s*$')))::DOUBLE/len(lns)*10000+0.5)/10000 AS ellipsis_frac,
        |    len(list_distinct(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))) AS n_stop_distinct
        |  FROM m)
        |SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_frac,
        |  bullet_frac, ellipsis_frac, n_stop_distinct,
        |  (n_words >= 10 AND mean_wlen BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
        |   AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |   AND n_stop_distinct >= 2) AS gopher_pass
        |FROM r""".stripMargin),

    // compressibility signal: zlib byte counts are deterministic within
    // a JVM but not a cross-engine contract (DuckDB has no SQL deflate),
    // so the gate emits PROPERTY verdicts the oracle can state a priori
    // (t09-style): the ratio is positive and bounded, doubling the text
    // must compress the second copy almost entirely (self-similarity),
    // and a constant run of the same length must compress below the
    // word-salad text. The exact n_bytes column keeps one hard equality.
    ("t13_compression_ratio",
      (s, sf) => {
        import graft.functions.HashFunctions.deflateSize
        val ratio = TextOps.compressionRatio(col("text"))
        table(s, sf, "documents").filter(length(col("text")) > 0).select(
          col("doc_id"), octet_length(col("text")).as("n_bytes"),
          (ratio > 0.0 && ratio <= 1.1).as("bounded"),
          (deflateSize(concat(col("text"), col("text"))) <
            deflateSize(col("text")) * 2).as("dup_shrinks"),
          (deflateSize(repeat(lit("x"), length(col("text")).cast("int"))) <
            deflateSize(col("text"))).as("const_smaller"))
      },
      "SELECT doc_id, octet_length(encode(text)) AS n_bytes, " +
        "true AS bounded, true AS dup_shrinks, true AS const_smaller " +
        "FROM documents WHERE len(text) > 0"),

    // C4 line-level cleaning: plant a 4-cycle of boilerplate/prose lines
    // so every rule (terminal punctuation, min words, banned phrase,
    // brace) fires both ways; the oracle recomputes each line verdict
    // independently in DuckDB
    ("t14_c4_line_clean",
      (s, sf) => TextOps.c4LineClean(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nKeep this planted prose line today.\nshort no."))
            .when(col("doc_id") % 4 === 1,
              lit("\nvar x = {javascript:1};\nAnother good line stays right here!"))
            .when(col("doc_id") % 4 === 2,
              lit("\nlorem ipsum dolor sit amet.\nThis cookie banner must go away now."))
            .otherwise(lit("\nno terminal punctuation here"))).as("text")),
        col("doc_id"), col("text"), minLineWords = 3, minKeptLines = 1),
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10)||'Keep this planted prose line today.'||chr(10)||'short no.'
        |         WHEN doc_id % 4 = 1 THEN chr(10)||'var x = {javascript:1};'||chr(10)||'Another good line stays right here!'
        |         WHEN doc_id % 4 = 2 THEN chr(10)||'lorem ipsum dolor sit amet.'||chr(10)||'This cookie banner must go away now.'
        |         ELSE chr(10)||'no terminal punctuation here' END AS t FROM documents),
        |l AS (SELECT doc_id, string_split(t, chr(10)) AS lns FROM base),
        |k AS (SELECT doc_id, len(lns) AS n_lines,
        |    list_filter(lns, x -> regexp_matches(x, '[.!?"]\s*$')
        |      AND (CASE WHEN trim(x)='' THEN 0
        |           ELSE len(string_split_regex(trim(x),'\s+')) END) >= 3
        |      AND NOT contains(lower(x), '{')
        |      AND NOT contains(lower(x), 'javascript')
        |      AND NOT contains(lower(x), 'lorem ipsum')
        |      AND NOT contains(lower(x), 'cookie')) AS kept
        |  FROM l)
        |SELECT doc_id, n_lines, len(kept) AS n_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  len(kept) >= 1 AS c4_keep FROM k""".stripMargin),

    // hashed-feature linear classifier: weights derive from a closed-form
    // slot formula so the DuckDB oracle can recompute the EXACT margin
    // (fold order and hash both portable); `exp` is not a cross-engine
    // bit contract, so the gate pins margin + sign, not the sigmoid
    ("t15_quality_classifier",
      (s, sf) => {
        val weights = Seq.tabulate(64)(j => (((j * 37 + 11) % 21) - 10) / 10.0)
        table(s, sf, "documents").select(col("doc_id"),
          (floor(TextOps.hashedLinearMargin(col("text"), weights, bias = -0.5)
            * 10000 + 0.5) / 10000).as("margin"))
          .withColumn("label", col("margin") > 0)
      },
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(text)),'\s+') END AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    floor(list_reduce(list_prepend(-0.5::DOUBLE, list_transform(toks, tok ->
        |      ((((list_reduce(list_prepend(7::BIGINT, list_transform(
        |            string_split(tok,''), c -> ord(c)::BIGINT)),
        |          (a, c) -> (a * 257 + c) % 2147483647) % 64) * 37 + 11) % 21 - 10) / 10.0))),
        |      (a, w) -> a + w) * 10000 + 0.5) / 10000 AS margin
        |  FROM t)
        |SELECT doc_id, margin, margin > 0 AS label FROM m""".stripMargin),

    // quality-weighted importance resampling: keep-probability = the t02
    // quality score; the oracle recomputes score, bucket, and threshold
    ("p04_weighted_sample",
      (s, sf) => graft.ops.Pipeline.weightedSample(table(s, sf, "documents"), col("doc_id"),
        TextOps.qualityScore(col("text")), salt = "qw1")
        .select(col("doc_id"), col("lang")),
      """WITH q AS (SELECT doc_id, lang,
        |  floor((
        |    0.4 * (CASE WHEN ntok=0 THEN 0 ELSE nstop::DOUBLE/ntok END)
        |  + 0.3 * least(ntok/100.0, 1.0)
        |  + 0.3 * (1.0 - CASE WHEN len(text)=0 THEN 0 ELSE npunct::DOUBLE/len(text) END)) * 10000 + 0.5) / 10000 AS quality,
        |  list_reduce(list_prepend(7::BIGINT, list_transform(
        |    string_split('qw1:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |    (a, c) -> (a * 257 + c) % 2147483647) % 10000 AS bk
        |FROM (SELECT doc_id, lang, text,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(string_split_regex(lower(trim(text)),'\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is'))) END AS nstop,
        |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS npunct
        |FROM documents))
        |SELECT doc_id, lang FROM q WHERE bk < floor(quality * 10000)""".stripMargin),

    // multi-granularity aggregation (ROLLUP): per-(source,lang) token
    // totals plus per-source and grand totals in ONE pass — Catalyst
    // expands the grouping sets and the partial aggregation is still
    // map-side combined; DuckDB states the same result via ROLLUP
    ("a02_rollup_tokens",
      (s, sf) => table(s, sf, "documents")
        .select(col("source"), col("lang"), TextOps.tokenCount(col("text")).as("ntok"))
        .rollup(col("source"), col("lang"))
        .agg(sum(col("ntok")).as("tok_total"), count(lit(1)).as("n_docs"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("tok_total"), col("n_docs")),
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |  sum(ntok)::BIGINT AS tok_total, count(*) AS n_docs
        |FROM (SELECT source, lang,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |  FROM documents)
        |GROUP BY ROLLUP(source, lang)""".stripMargin),

    // curriculum bucketing: quality-score deciles — the stage-ordering
    // step of curriculum training (feed high-quality deciles
    // later/earlier). Decile membership is rank-based over the total
    // order (score, doc_id), so both engines agree; the Spark side uses
    // the distributed two-level ntile (Pipeline.ntileByScore), NOT a
    // single-partition global window — spec-asserted identical
    ("w03_quality_deciles",
      (s, sf) => graft.ops.Pipeline.ntileByScore(
          table(s, sf, "documents").select(col("doc_id"),
            TextOps.qualityScore(col("text")).as("q")),
          col("doc_id"), col("q"), k = 10)
        .groupBy(col("tile").as("decile"))
        .agg(count(lit(1)).as("n"),
          (floor(min(col("score")) * 10000 + 0.5) / 10000).as("q_min"),
          (floor(max(col("score")) * 10000 + 0.5) / 10000).as("q_max")),
      """WITH q AS (SELECT doc_id, floor((
        |    0.4 * (CASE WHEN ntok=0 THEN 0 ELSE nstop::DOUBLE/ntok END)
        |  + 0.3 * least(ntok/100.0, 1.0)
        |  + 0.3 * (1.0 - CASE WHEN len(text)=0 THEN 0 ELSE npunct::DOUBLE/len(text) END)) * 10000 + 0.5) / 10000 AS q
        |FROM (SELECT doc_id, text,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(string_split_regex(lower(trim(text)),'\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is'))) END AS nstop,
        |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS npunct
        |FROM documents)),
        |d AS (SELECT doc_id, q, ntile(10) OVER (ORDER BY q, doc_id) AS decile FROM q)
        |SELECT decile, count(*) AS n,
        |  floor(min(q) * 10000 + 0.5) / 10000 AS q_min,
        |  floor(max(q) * 10000 + 0.5) / 10000 AS q_max
        |FROM d GROUP BY decile""".stripMargin),

    // Count-Min-Sketch heavy hitters: one mergeable ~1 MB counter grid
    // over every token instance, probed for the exact top-20 terms; the
    // verdict column pins the CMS overcount guarantee
    // (true ≤ est ≤ true + eps·N) — deterministic for the fixed seed,
    // same pinned-measured-error shape as t09/t10
    ("t20_cms_heavy_hitters",
      (s, sf) => TextOps.cmsHeavyHitters(table(s, sf, "documents"), col("text"), k = 20),
      """SELECT term, n_true, true AS within_bound FROM (
        |  SELECT term, count(*) AS n_true FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
        |    FROM documents WHERE trim(text)<>'')
        |  GROUP BY term ORDER BY n_true DESC, term ASC LIMIT 20)""".stripMargin),

    // incremental dedup maintenance: the corpus splits into a base (80%)
    // and an arrival batch (20%); the base's own MinHash run plus the
    // incremental arrival probe (cost ∝ batch, never corpus² — the
    // banded bucket table is the persistable index) must together equal
    // the FULL-corpus exact-Jaccard oracle, i.e. d03's oracle verbatim
    ("e06_incremental_dedup",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val base = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        val arrivals = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        Dedup.minHashNearDups(base, col("doc_id"), col("text"),
            n = 3, threshold = 0.8).select(col("id_a"), col("id_b"))
          .unionByName(Dedup.minHashNearDupsIncremental(base, arrivals,
            col("doc_id"), col("text"), n = 3, threshold = 0.8)
            .select(col("id_a"), col("id_b")))
      },
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8""".stripMargin),

    // Unicode NFC normalization (native codegen'd expression — Spark has
    // no built-in normalizer; mixed composed/decomposed encodings defeat
    // exact dedup): every doc gets a decomposed " cafe"+U+0301 suffix and
    // the gate pins the composed form cross-engine (char count drops by
    // one and the composed é lands in the 5-char tail); DuckDB's
    // nfc_normalize is the oracle
    ("t21_nfc_normalize",
      (s, sf) => table(s, sf, "documents")
        .select(col("doc_id"), graft.functions.HashFunctions.nfcNormalize(
          concat(col("text"), lit(" cafe\u0301"))).as("norm"))
        .select(col("doc_id"), length(col("norm")).as("n_chars_nfc"),
          expr("right(norm, 5)").as("tail")),
      """SELECT doc_id, len(n) AS n_chars_nfc, right(n, 5) AS tail
        |FROM (SELECT doc_id, nfc_normalize(text || ' cafe' || chr(769)) AS n
        |      FROM documents)""".stripMargin),

    // per-group exact quantiles: the token-length distribution per
    // source (p50/p90, linearly interpolated) — the per-source
    // profiling step before mixture design; Spark `percentile` and
    // DuckDB `quantile_cont` share the p·(n−1) interpolation rule
    ("a05_group_quantiles",
      (s, sf) => table(s, sf, "documents")
        .select(col("source"), TextOps.tokenCount(col("text")).cast("double").as("ntok"))
        .groupBy(col("source"))
        .agg(expr("percentile(ntok, array(0.5D, 0.9D))").as("qs"))
        .select(col("source"),
          (floor(element_at(col("qs"), 1) * 10000 + 0.5) / 10000).as("p50"),
          (floor(element_at(col("qs"), 2) * 10000 + 0.5) / 10000).as("p90")),
      """SELECT source,
        |  floor(quantile_cont(ntok, 0.5) * 10000 + 0.5) / 10000 AS p50,
        |  floor(quantile_cont(ntok, 0.9) * 10000 + 0.5) / 10000 AS p90
        |FROM (SELECT source,
        |  (CASE WHEN trim(text)='' THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)),'\s+')) END)::DOUBLE AS ntok
        |  FROM documents)
        |GROUP BY source""".stripMargin),

    // URL canonicalization: synthesize a messy per-doc URL (mixed-case
    // host, tracking query), canonicalize with Spark's codegen'd
    // parse_url (lowercased host + path, query stripped), aggregate per
    // host — the canonical-URL dedup prelude; DuckDB restates the
    // extraction with regexes
    ("d17_url_canonical",
      (s, sf) => table(s, sf, "documents")
        .select(concat(lit("https://"), upper(col("source")), lit(".Example.COM/d/"),
          col("doc_id"), lit("?utm_source="), col("lang")).as("url"))
        .select(concat(lower(parse_url(col("url"), lit("HOST"))),
          parse_url(col("url"), lit("PATH"))).as("canonical"))
        .groupBy(regexp_extract(col("canonical"), "^([^/]+)", 1).as("host"))
        .agg(count(lit(1)).as("n_docs")),
      """SELECT lower(regexp_extract(url, 'https?://([^/?]+)', 1)) AS host,
        |  count(*) AS n_docs
        |FROM (SELECT 'https://' || upper(source) || '.Example.COM/d/' || doc_id
        |        || '?utm_source=' || lang AS url FROM documents)
        |GROUP BY 1""".stripMargin),

    // snapshot diff via ONE full-outer join on doc_id (the join type no
    // other gate exercises) with payloads pre-hashed to 8 bytes so the
    // shuffle is id-width; snapshots derived deterministically from the
    // documents table (10% removed, 10% added, 10% text-modified)
    ("e04_snapshot_diff",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val snapA = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text"))
        val snapB = d.filter(pmod(col("doc_id"), lit(10)) =!= 1)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        graft.ops.Pipeline.snapshotDiff(snapA, snapB, col("doc_id"), col("text"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
      },
      """WITH snap_a AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |snap_b AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 1),
        |j AS (SELECT CASE WHEN b.doc_id IS NULL THEN 'removed'
        |                  WHEN a.doc_id IS NULL THEN 'added'
        |                  WHEN a.text <> b.text THEN 'changed'
        |                  ELSE 'same' END AS status
        |      FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id)
        |SELECT status, count(*) AS n FROM j GROUP BY status""".stripMargin),

    // incremental maintenance: carry forward cached quality scores for
    // unchanged docs, recompute ONLY the snapshot diff's added/changed
    // set, and pin the union equal to a full recompute of the new
    // snapshot (the oracle). At corpus scale this is the difference
    // between scoring 100 TB nightly and scoring the ~1% that moved;
    // correctness rests on snapshotDiff's id-hash classes (collision
    // caveat documented there)
    ("e05_incremental_scores",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val snapA = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text"))
        val snapB = d.filter(pmod(col("doc_id"), lit(10)) =!= 1)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        val cached = snapA.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
        val diff = graft.ops.Pipeline.snapshotDiff(snapA, snapB, col("doc_id"), col("text"))
        val carried = cached.join(
          diff.filter(col("status") === "same").select(col("id").as("doc_id")),
          "doc_id")
        val recomputed = snapB.join(
            diff.filter(col("status").isin("added", "changed")).select(col("id").as("doc_id")),
            "doc_id")
          .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
        carried.unionByName(recomputed)
      },
      """SELECT doc_id, floor((
        |    0.4 * (CASE WHEN ntok=0 THEN 0 ELSE nstop::DOUBLE/ntok END)
        |  + 0.3 * least(ntok/100.0, 1.0)
        |  + 0.3 * (1.0 - CASE WHEN len(text)=0 THEN 0 ELSE npunct::DOUBLE/len(text) END)) * 10000 + 0.5) / 10000 AS q
        |FROM (SELECT doc_id, text,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(string_split_regex(lower(trim(text)),'\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is'))) END AS nstop,
        |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS npunct
        |FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 10 <> 1))""".stripMargin),

    // per-user event bigrams: consecutive event-type pairs in (ts,
    // event_id) order — the transition counts a behavior model trains
    // on; lead() over the one user partitioning, then a count by pair
    ("f03_event_bigrams",
      (s, sf) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
      },
      """SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |FROM (SELECT event_type, lead(event_type, 1) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |      FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type""".stripMargin),

    // CUBE + grouping_id: all four (source, lang) granularities in one
    // pass, with the grouping bitmask distinguishing "subtotal row" from
    // a hypothetical real NULL group — the correct mechanism the rollup
    // gate's coalesce('ALL') sidesteps. Identical bitmask semantics in
    // both engines
    ("a04_cube_tokens",
      (s, sf) => table(s, sf, "documents")
        .select(col("source"), col("lang"), TextOps.tokenCount(col("text")).as("ntok"))
        .cube(col("source"), col("lang"))
        .agg(grouping_id(col("source"), col("lang")).as("gid"),
          sum(col("ntok")).as("tok_total"), count(lit(1)).as("n_docs"))
        .select(coalesce(col("source"), lit("-")).as("source"),
          coalesce(col("lang"), lit("-")).as("lang"),
          col("gid"), col("tok_total"), col("n_docs")),
      """SELECT coalesce(source, '-') AS source, coalesce(lang, '-') AS lang,
        |  GROUPING(source, lang) AS gid,
        |  sum(ntok)::BIGINT AS tok_total, count(*) AS n_docs
        |FROM (SELECT source, lang,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |  FROM documents)
        |GROUP BY CUBE(source, lang)""".stripMargin),

    // explicit GROUPING SETS: the NON-hierarchical granularity list
    // ((source), (lang), ()) that ROLLUP/CUBE cannot express — per-source
    // totals, per-language totals, and the grand total in ONE pass (no
    // per-set re-aggregation union); grouping_id disambiguates set
    // membership exactly as in a04
    ("a10_grouping_sets",
      (s, sf) => table(s, sf, "documents")
        .select(col("source"), col("lang"), TextOps.tokenCount(col("text")).as("ntok"))
        .groupingSets(Seq(Seq(col("source")), Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(grouping_id(col("source"), col("lang")).as("gid"),
          sum(col("ntok")).as("tok_total"), count(lit(1)).as("n_docs"))
        .select(coalesce(col("source"), lit("-")).as("source"),
          coalesce(col("lang"), lit("-")).as("lang"),
          col("gid"), col("tok_total"), col("n_docs")),
      """SELECT coalesce(source, '-') AS source, coalesce(lang, '-') AS lang,
        |  GROUPING(source, lang) AS gid,
        |  sum(ntok)::BIGINT AS tok_total, count(*) AS n_docs
        |FROM (SELECT source, lang,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |  FROM documents)
        |GROUP BY GROUPING SETS ((source), (lang), ())""".stripMargin),

    // chi-squared independence of lang × source: exact integer cell
    // counts, expected/contribution doubles from the SAME 6-dp-rounded
    // inputs on both engines, statistic = order-independent
    // DECIMAL(38,6) sum of rounded contributions (t18/b01 recipe)
    // Cohen's kappa between two heuristic quality raters (char-length
    // vs token-count filter): exact integer 2x2 cells in one scan +
    // 1-row reduce; p_o / p_e / kappa are the identical IEEE expression
    // tree of single divisions in both engines (never n*n, so no
    // overflow at corpus scale), 6-dp floored
    ("a12_cohen_kappa",
      (s, sf) => graft.ops.Checks.interRaterKappa(table(s, sf, "documents"),
        length(col("text")) >= 200, TextOps.tokenCount(col("text")) >= 40),
      """WITH r AS (SELECT len(text) >= 200 AS ra,
        |    (CASE WHEN trim(text)='' THEN 0
        |          ELSE len(string_split_regex(lower(trim(text)),'\s+')) END)
        |      >= 40 AS rb FROM documents),
        |c AS (SELECT count(*) AS n,
        |    sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END)::BIGINT AS n_pp,
        |    sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)::BIGINT AS n_pn,
        |    sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)::BIGINT AS n_np,
        |    sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)::BIGINT AS n_nn
        |  FROM r),
        |k AS (SELECT n, n_pp, n_pn, n_np, n_nn,
        |    (n_pp + n_nn)::DOUBLE / n::DOUBLE AS po,
        |    ((n_pp + n_pn)::DOUBLE / n::DOUBLE) * ((n_pp + n_np)::DOUBLE / n::DOUBLE)
        |      + ((n_np + n_nn)::DOUBLE / n::DOUBLE) * ((n_pn + n_nn)::DOUBLE / n::DOUBLE)
        |      AS pe FROM c)
        |SELECT n, n_pp, n_pn, n_np, n_nn,
        |  floor(po * 1000000 + 0.5) / 1000000 AS po6,
        |  floor(pe * 1000000 + 0.5) / 1000000 AS pe6,
        |  CASE WHEN pe = 1.0 THEN 0.0
        |       ELSE floor((po - pe) / (1.0 - pe) * 1000000 + 0.5) / 1000000
        |  END AS kappa6
        |FROM k""".stripMargin),

    // Shannon entropy (bits) per categorical field: one stacked scan,
    // one (field,value) count shuffle; each -p*log2(p) term 4-dp floored
    // then DECIMAL-summed (t18's recipe — term order cannot move the
    // total, and log2 agrees across libms at 4 dp)
    ("a13_field_entropy",
      (s, sf) => graft.ops.Profile.fieldEntropy(table(s, sf, "documents"),
        Seq("lang" -> col("lang"), "source" -> col("source"))),
      """WITH s AS (SELECT field, v FROM (
        |    SELECT lang::VARCHAR AS v, 'lang' AS field FROM documents
        |    UNION ALL
        |    SELECT source::VARCHAR AS v, 'source' AS field FROM documents)),
        |c AS (SELECT field, v, count(*) AS c FROM s GROUP BY 1, 2),
        |t AS (SELECT field, sum(c)::BIGINT AS n, count(*) AS n_distinct
        |  FROM c GROUP BY 1),
        |term AS (SELECT c.field, t.n, t.n_distinct,
        |    CAST(floor(-((c.c::DOUBLE / t.n::DOUBLE)
        |        * log2(c.c::DOUBLE / t.n::DOUBLE)) * 10000 + 0.5) / 10000
        |      AS DECIMAL(28,4)) AS t4
        |  FROM c JOIN t USING (field))
        |SELECT field, n, n_distinct, sum(t4)::DOUBLE AS entropy4
        |FROM term GROUP BY 1, 2, 3""".stripMargin),

    // exact nearest-rank length quantiles per source: the rank is pure
    // INTEGER arithmetic (ceil(n*q/100) = (n*q+99) div 100 — no float,
    // no representation-edge ceil disagreement), the pick is by sorted
    // position (ties interchangeable by value) — deterministic and
    // portable where percentile_approx is neither
    ("a14_length_quantiles",
      (s, sf) => graft.ops.Profile.groupQuantiles(table(s, sf, "documents"),
        col("source"), length(col("text")), Seq(50, 90, 99)),
      """WITH r AS (SELECT source AS grp, len(text)::BIGINT AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY len(text)) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n FROM documents)
        |SELECT grp, max(n)::BIGINT AS n,
        |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN v END) AS p90,
        |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS p99
        |FROM r GROUP BY 1""".stripMargin),

    ("a11_chi2_independence",
      (s, sf) => graft.ops.Profile.chi2Independence(
        table(s, sf, "documents"), col("lang"), col("source")),
      """WITH c AS (SELECT lang AS a, source AS b, count(*) AS obs
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT sum(obs)::BIGINT AS n, count(DISTINCT a) AS na,
        |    count(DISTINCT b) AS nb FROM c),
        |e AS (SELECT a, b, obs,
        |    ((na - 1) * (nb - 1))::BIGINT AS dof,
        |    floor(ra::DOUBLE * cb::DOUBLE / n::DOUBLE * 1000000 + 0.5)
        |      / 1000000 AS exp6
        |  FROM (SELECT a, b, obs,
        |      (sum(obs) OVER (PARTITION BY a))::BIGINT AS ra,
        |      (sum(obs) OVER (PARTITION BY b))::BIGINT AS cb FROM c), t),
        |x AS (SELECT a, b, obs, dof, exp6,
        |    floor((obs::DOUBLE - exp6) * (obs::DOUBLE - exp6) / exp6
        |      * 1000000 + 0.5) / 1000000 AS contrib6 FROM e)
        |SELECT a, b, obs, dof, exp6, contrib6,
        |  (SELECT sum(contrib6::DECIMAL(38,6))::DOUBLE FROM x) AS chi2 FROM x"""
        .stripMargin),

    // pivot: the source×language token matrix (one row per source, one
    // column per language) — the corpus-composition report every mixture
    // design starts from. The language domain is pinned explicitly, so
    // the plan is ONE shuffle (no distinct-values discovery job) and the
    // output schema is static; DuckDB states it as conditional aggregation
    ("a03_pivot_tokens",
      (s, sf) => table(s, sf, "documents")
        .select(col("source"), col("lang"), TextOps.tokenCount(col("text")).as("ntok"))
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("ntok"))),
      """SELECT source,
        |  (sum(ntok) FILTER (lang='de'))::BIGINT AS de,
        |  (sum(ntok) FILTER (lang='en'))::BIGINT AS en,
        |  (sum(ntok) FILTER (lang='es'))::BIGINT AS es,
        |  (sum(ntok) FILTER (lang='fr'))::BIGINT AS fr,
        |  (sum(ntok) FILTER (lang='zh'))::BIGINT AS zh
        |FROM (SELECT source, lang,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |  FROM documents)
        |GROUP BY source""".stripMargin),

    // UNPIVOT (melt): the inverse reshape of a03 — wide per-language
    // token columns back to long (source, lang, tok_total) rows, the
    // reshape every per-slice report/mixture config round-trips through.
    // Catalyst's Expand node emits all five rows per input in one pass
    // (no per-column union); absent combos (NULL cells) are dropped
    // explicitly so the result equals the plain long-form aggregation,
    // which is exactly what the oracle states
    ("a06_unpivot_tokens",
      (s, sf) => table(s, sf, "documents")
        .select(col("source"), col("lang"), TextOps.tokenCount(col("text")).as("ntok"))
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("ntok")))
        .unpivot(Array(col("source")),
          Array(col("de"), col("en"), col("es"), col("fr"), col("zh")),
          "lang", "tok_total")
        .filter(col("tok_total").isNotNull),
      """SELECT source, lang, sum(ntok)::BIGINT AS tok_total
        |FROM (SELECT source, lang,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |  FROM documents WHERE lang IN ('de','en','es','fr','zh'))
        |GROUP BY source, lang""".stripMargin),

    // per-key time-series featurization: inter-event gap, short moving
    // average, and event ordinal per user — the feature columns a
    // behavioral model trains on. All windows partition by user_id (the
    // natural shuffle key; no global sort anywhere) over the total order
    // (ts, event_id), so both engines see identical frames
    ("ts05_event_features",
      (s, sf) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("mov4", floor(avg(col("value")).over(
            w.rowsBetween(-3, Window.currentRow)) * 10000 + 0.5) / 10000)
          .withColumn("ordinal", row_number().over(w))
          .select(col("event_id"), col("user_id"), col("gap_us"), col("mov4"), col("ordinal"))
      },
      """SELECT event_id, user_id,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
        |  floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) * 10000 + 0.5) / 10000 AS mov4,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ordinal
        |FROM events""".stripMargin),

    // skew-salted shuffle join: lineitem→orders on the order key with the
    // probe side salted and the build side replicated ×8 (Joins
    // .saltedEquiJoin) — result must equal the plain join, which is
    // exactly what the oracle states. The aggregate keeps the gate's
    // output small; the salt spreading itself is spec-asserted
    // row-identical to the unsalted join
    // connected components via large-star/small-star EDGE CONTRACTION
    // (Kiveris et al.) on a deterministic functional graph over user
    // ids — the per-round-shrinking alternative to c01's label
    // propagation; the oracle is an independent recursive min-label
    // closure, so both O(log n) algorithms must land on identical
    // canonical labels
    ("g11_cc_star",
      (s, sf) => {
        val pe = table(s, sf, "events").select((col("user_id") % 1000).as("a"),
          ((col("user_id") * 7 + 3) % 1000).as("b")).distinct()
        val nodes = pe.select(col("a").as("n"))
          .union(pe.select(col("b").as("n"))).distinct()
        graft.ops.Graph.connectedComponentsStar(
          pe, col("a"), col("b"), nodes, col("n"))
      },
      """WITH RECURSIVE pe AS (
        |  SELECT DISTINCT user_id % 1000 AS a, (user_id * 7 + 3) % 1000 AS b
        |  FROM events),
        |n AS (SELECT DISTINCT x AS node FROM (
        |  SELECT a AS x FROM pe UNION ALL SELECT b AS x FROM pe)),
        |e AS (SELECT a, b FROM pe WHERE a <> b
        |  UNION ALL SELECT b, a FROM pe WHERE a <> b),
        |r(id, l) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b)
        |SELECT id AS node, MIN(l) AS label FROM r GROUP BY id""".stripMargin),

    ("j01_salted_join",
      (s, sf) => {
        val li = table(s, sf, "lineitem")
          .select(col("l_orderkey").as("okey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_discount"))
        val ord = table(s, sf, "orders")
          .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        graft.ops.Joins.saltedEquiJoin(li, ord, "okey",
            xxhash64(col("okey"), col("l_linenumber")), salts = 8)
          .groupBy(col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("double").as("revenue"))
      },
      "SELECT o_orderpriority AS prio, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority"),

    // Bloom-pruned selective join: non-joining probe rows are dropped by
    // a plan-literal bloom filter AT THE SCAN, before the shuffle — at
    // 100 TB the rows that would shuffle only to fail the join never
    // cross the wire. Row-identical to the plain join (no false
    // negatives; fp survivors removed by the join), so the oracle is the
    // plain SQL join. Prune actually happening is plan-guarded in
    // PlanQualitySpec.
    ("j04_bloom_prejoin",
      (s, sf) => {
        val orders = table(s, sf, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
            col("o_totalprice"))
        val cust = table(s, sf, "customer")
          .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000.0)
          .select(col("c_custkey"), col("c_name"))
        graft.ops.Joins.bloomPrunedJoin(orders, cust, "c_custkey")
      },
      """SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000.0""".stripMargin),

    // strict ordered funnel signup→view→purchase: each step's qualifying
    // time is a window min over ONE user partitioning (one Exchange for
    // the whole funnel, no per-step self-joins); DuckDB restates it as a
    // chained conditional-min CTE — same strict-after semantics
    ("f01_funnel",
      // restricted to the first 36 h so the funnel discriminates (over
      // the full month every user completes every step — 150/150/150)
      (s, sf) => graft.ops.EventAnalytics.funnel(
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .filter(col("ts") < lit("2024-01-02 12:00:00").cast("timestamp")),
        col("user_id"), col("event_type"), col("ts"),
        Seq("signup", "view", "purchase")),
      """WITH ev AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00'),
        |s1 AS (SELECT user_id, min(ts) FILTER (WHERE event_type='signup') AS t1
        |           FROM ev GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.user_id=s1.user_id
        |       WHERE e.event_type='view' AND s1.t1 IS NOT NULL AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN s2 ON e.user_id=s2.user_id
        |       WHERE e.event_type='purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT 1 AS step, 'signup' AS step_name, (SELECT count(t1) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin),

    // day-grain cohort retention at +7 days: cohort = first-activity day
    // (window min over the same user partitioning), retained = active
    // again exactly a week later; the log collapses to distinct
    // (user, day) pairs before any shuffle-heavy step
    ("f02_retention",
      (s, sf) => graft.ops.EventAnalytics.retention(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("ts"), offsetDays = 7),
      """WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |c AS (SELECT user_id, min(day) OVER (PARTITION BY user_id) AS cohort, day FROM d),
        |u AS (SELECT user_id, min(cohort) AS cohort_day,
        |        bool_or(day = cohort + 7) AS retained FROM c GROUP BY user_id)
        |SELECT cohort_day, count(*) AS n_users,
        |  count(*) FILTER (retained) AS n_retained
        |FROM u GROUP BY cohort_day""".stripMargin),

    // retention matrix (cohort x offset grid): one collect_set shuffle,
    // every offset a membership probe — offsets fan out user-sized rows,
    // never the event log; all exact integers
    ("f09_retention_matrix",
      (s, sf) => graft.ops.EventAnalytics.retentionMatrix(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("ts"), offsets = Seq(1, 7, 14)),
      """WITH per AS (SELECT user_id, min(ts::DATE) AS c,
        |    list(DISTINCT ts::DATE) AS ds FROM events GROUP BY 1),
        |o AS (SELECT unnest([1, 7, 14]) AS off),
        |j AS (SELECT per.c, o.off,
        |    list_contains(per.ds, per.c + o.off) AS ret FROM per, o)
        |SELECT c AS cohort_day, off::INT AS offset_days,
        |  count(*)::BIGINT AS n_users,
        |  sum(CASE WHEN ret THEN 1 ELSE 0 END)::BIGINT AS n_retained
        |FROM j GROUP BY 1, 2""".stripMargin),

    // RFM quartile segmentation: deterministic ntile (entity id as the
    // final tie-break in every ordering — ntile ties are otherwise
    // engine-placement-dependent) over decimal-exact monetary sums
    ("f04_rfm",
      (s, sf) => graft.ops.EventAnalytics.rfm(
        table(s, sf, "orders"),
        col("o_custkey"), col("o_orderdate"), col("o_totalprice"),
        asOf = "2001-09-01"),
      """WITH per AS (SELECT o_custkey AS cust,
        |    date_diff('day', max(o_orderdate::DATE), DATE '2001-09-01') AS rec_days,
        |    count(*) AS freq, sum(o_totalprice::DECIMAL(18,2)) AS monetary
        |  FROM orders GROUP BY 1)
        |SELECT cust, rec_days, freq, per.monetary::DOUBLE AS monetary,
        |  ntile(4) OVER (ORDER BY rec_days DESC, cust ASC) AS r,
        |  ntile(4) OVER (ORDER BY freq ASC, cust ASC) AS f,
        |  ntile(4) OVER (ORDER BY per.monetary ASC, cust ASC) AS m
        |FROM per""".stripMargin),

    // per-user inter-event gaps: lag deltas under a fully tie-broken
    // ordering (ts, then event id — sub-second collisions exist in the
    // log), truncating-seconds arithmetic on both sides
    ("f05_event_gaps",
      (s, sf) => graft.ops.EventAnalytics.eventGaps(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("ts"), col("event_id")),
      """WITH g AS (SELECT user_id,
        |    date_diff('second',
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
        |      ts) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  floor(sum(gap) / count(*) * 10000 + 0.5) / 10000 AS avg_gap_s,
        |  max(gap)::BIGINT AS max_gap_s
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin),

    // link-graph authority: simplified PageRank (3 fixed iterations, no
    // dangling-mass redistribution) over the part→supplier→nation
    // two-hop graph; id spaces offset so the graph is genuinely layered
    // and rank mass visibly propagates two hops. Ranks rounded to 8
    // decimals BEFORE the top-20 selection so both engines pick and
    // order the same rows; DuckDB restates the iteration as three
    // unrolled CTE steps
    ("g01_pagerank",
      (s, sf) => {
        val ps = table(s, sf, "lineitem")
          .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
        val sn = table(s, sf, "supplier")
          .select((col("s_suppkey") + 1000000L).as("src"), (col("s_nationkey") + 2000000L).as("dst"))
        graft.ops.Graph.pageRank(ps.unionByName(sn), col("src"), col("dst"),
            iterations = 3)
          .select(col("node"), (floor(col("rank") * 100000000.0 + 0.5) / 100000000.0).as("rank"))
          .orderBy(col("rank").desc, col("node").asc).limit(20)
      },
      """WITH e AS (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |  UNION
        |  SELECT s_suppkey + 1000000, s_nationkey + 2000000 FROM supplier),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |p AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        |od AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, 1.0/(SELECT n FROM p) AS rank FROM nodes),
        |r1 AS (SELECT nodes.node, 0.15/(SELECT n FROM p) + 0.85*coalesce(c.contrib, 0) AS rank
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank/od.outdeg) AS contrib
        |         FROM e JOIN od ON e.src=od.src JOIN r0 r ON r.node=e.src
        |         GROUP BY e.dst) c ON nodes.node=c.node),
        |r2 AS (SELECT nodes.node, 0.15/(SELECT n FROM p) + 0.85*coalesce(c.contrib, 0) AS rank
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank/od.outdeg) AS contrib
        |         FROM e JOIN od ON e.src=od.src JOIN r1 r ON r.node=e.src
        |         GROUP BY e.dst) c ON nodes.node=c.node),
        |r3 AS (SELECT nodes.node, 0.15/(SELECT n FROM p) + 0.85*coalesce(c.contrib, 0) AS rank
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank/od.outdeg) AS contrib
        |         FROM e JOIN od ON e.src=od.src JOIN r2 r ON r.node=e.src
        |         GROUP BY e.dst) c ON nodes.node=c.node)
        |SELECT node, floor(rank*100000000 + 0.5)/100000000 AS rank
        |FROM r3 ORDER BY 2 DESC, node LIMIT 20""".stripMargin),

    // HITS hub/authority on the g01 edge fixture: the bipartite
    // complement of pagerank (directories vs destinations). DECIMAL-
    // exact propagation, 8-dp scores, IEEE sqrt norms — oracle unrolls
    // both half-steps of each iteration (hitsSql)
    ("g12_hits",
      (s, sf) => {
        val ps = table(s, sf, "lineitem")
          .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
        val sn = table(s, sf, "supplier")
          .select((col("s_suppkey") + 1000000L).as("src"), (col("s_nationkey") + 2000000L).as("dst"))
        graft.ops.Graph.hits(ps.unionByName(sn), col("src"), col("dst"),
          iterations = 2)
      },
      hitsSql(2)),

    // train→deploy closure: fit a logistic regression on hashed
    // bag-of-words counts (same PolyHash slots as the scorer), deploy
    // the learned weights as the plan-literal fold, and verify (a) the
    // model actually learned the planted separation and (b) the deployed
    // codegen'd margin equals the slot-count dot product formulation —
    // training isn't cross-engine reproducible (LBFGS), so the oracle is
    // a property verdict (t09/t13 style) plus the hard row count
    ("t17_classifier_train",
      (s, sf) => {
        val base = table(s, sf, "documents").select(col("doc_id"),
          concat(col("text"), when(col("doc_id") % 2 === 0,
            lit(" excellent wonderful refined insightful"))
            .otherwise(lit(" spam junk clickbait scam"))).as("text"),
          (col("doc_id") % 2 === 0).cast("int").as("label"))
        val m = graft.ops.Classifier.fitQualityClassifier(base, col("text"), col("label"))
        val alt = aggregate(
          zip_with(graft.ops.Classifier.slotCounts(col("text"), m.weights.length),
            typedLit(m.weights), (c, w) => c * w),
          lit(m.bias), (acc, x) => acc + x)
        base.select(col("label"), m.margin(col("text")).as("margin"), alt.as("alt"))
          .agg(count(lit(1)).as("n"),
            (avg((when(col("margin") > 0, 1).otherwise(0) === col("label"))
              .cast("double")) >= lit(0.95)).as("learned"),
            (max(abs(col("margin") - col("alt"))) < 1e-9).as("deploy_consistent"))
      },
      "SELECT count(*) AS n, true AS learned, true AS deploy_consistent FROM documents"),

    // end-to-end curation pipeline over the ROUND-10 op family: C4 line
    // clean → intra-doc line dedup → classifier-margin filter → per-
    // source contribution cap. ONE DuckDB statement re-derives all four
    // stages — each stage feeds the next, so a row leaking through any
    // stage perturbs the final capped draw (the e01/e02 composition
    // pattern). The %4==0 branch plants a DUPLICATED kept line so the
    // dedup stage provably bites before the margin is computed.
    ("e03_curation_pipeline",
      (s, sf) => {
        val w = Seq.tabulate(64)(j => (((j * 37 + 11) % 21) - 10) / 10.0)
        val base = table(s, sf, "documents").select(col("doc_id"), col("source"), concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nGood planted line stays here.\nGood planted line stays here.\nshort no."))
            .when(col("doc_id") % 4 === 1,
              lit("\nvar x = {javascript:1};\nAnother good line stays right here!"))
            .otherwise(lit("\nno terminal punctuation here"))).as("text"))
        val c4 = TextOps.c4LineClean(base, col("doc_id"), col("text"),
          minLineWords = 3, minKeptLines = 1).filter(col("c4_keep"))
        val dd = TextOps.dedupLinesInDoc(c4, col("doc_id"), col("clean_text"))
        val scored = dd.withColumn("margin",
          floor(TextOps.hashedLinearMargin(col("dedup_text"), w, bias = -0.5)
            * 10000 + 0.5) / 10000)
          .filter(col("margin") > -3)
        val withSrc = scored.join(base.select(col("doc_id"), col("source")), "doc_id")
        graft.ops.Pipeline.capPerGroup(withSrc, col("doc_id"), col("source"),
            k = 5, salt = "e3")
          .select(col("doc_id"), col("source"), col("n_kept"), col("margin"))
      },
      """WITH base AS (SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10)||'Good planted line stays here.'||chr(10)||'Good planted line stays here.'||chr(10)||'short no.'
        |         WHEN doc_id % 4 = 1 THEN chr(10)||'var x = {javascript:1};'||chr(10)||'Another good line stays right here!'
        |         ELSE chr(10)||'no terminal punctuation here' END AS t FROM documents),
        |c4 AS (SELECT doc_id, source,
        |    list_filter(string_split(t, chr(10)), x -> regexp_matches(x, '[.!?"]\s*$')
        |      AND (CASE WHEN trim(x)='' THEN 0
        |           ELSE len(string_split_regex(trim(x),'\s+')) END) >= 3
        |      AND NOT contains(lower(x), '{')
        |      AND NOT contains(lower(x), 'javascript')
        |      AND NOT contains(lower(x), 'lorem ipsum')
        |      AND NOT contains(lower(x), 'cookie')) AS kept
        |  FROM base),
        |surv AS (SELECT doc_id, source, kept FROM c4 WHERE len(kept) >= 1),
        |dd AS (SELECT doc_id, source,
        |    list_filter(kept, (x, i) -> NOT list_contains(kept[1:i-1], x)) AS ded
        |  FROM surv),
        |txt AS (SELECT doc_id, source, len(ded) AS n_kept,
        |    coalesce(array_to_string(ded, chr(10)), '') AS dt FROM dd),
        |m AS (SELECT doc_id, source, n_kept,
        |    floor(list_reduce(list_prepend(-0.5::DOUBLE, list_transform(
        |      CASE WHEN trim(dt)='' THEN []::VARCHAR[]
        |           ELSE string_split_regex(lower(trim(dt)),'\s+') END, tok ->
        |      ((((list_reduce(list_prepend(7::BIGINT, list_transform(
        |            string_split(tok,''), c -> ord(c)::BIGINT)),
        |          (a, c) -> (a * 257 + c) % 2147483647) % 64) * 37 + 11) % 21 - 10) / 10.0))),
        |      (a, w) -> a + w) * 10000 + 0.5) / 10000 AS margin
        |  FROM txt),
        |f AS (SELECT * FROM m WHERE margin > -3),
        |r AS (SELECT doc_id, source, n_kept, margin, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      list_reduce(list_prepend(7::BIGINT, list_transform(
        |        string_split('e3:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |        (a, c) -> (a * 257 + c) % 2147483647) % 10000, doc_id) AS rn
        |  FROM f)
        |SELECT doc_id, source, n_kept, margin FROM r WHERE rn <= 5""".stripMargin),

    // intra-doc repeated-line removal: plant a repeated line (and one
    // unique line) per doc; first occurrence survives, order preserved
    ("t19_dedup_lines_in_doc",
      (s, sf) => TextOps.dedupLinesInDoc(
        table(s, sf, "documents").select(col("doc_id"), concat(
          lit("repeat me\n"), col("text"), lit("\nrepeat me\nunique tail "),
          col("doc_id"), lit("\nrepeat me")).as("text")),
        col("doc_id"), col("text")),
      """WITH base AS (SELECT doc_id,
        |    'repeat me' || chr(10) || text || chr(10) || 'repeat me' || chr(10) ||
        |    'unique tail ' || doc_id || chr(10) || 'repeat me' AS t FROM documents),
        |l AS (SELECT doc_id, string_split(t, chr(10)) AS lns FROM base),
        |k AS (SELECT doc_id, len(lns) AS n_lines,
        |    list_filter(lns, (x, i) ->
        |      NOT list_contains(lns[1:i-1], x)) AS kept
        |  FROM l)
        |SELECT doc_id, n_lines, len(kept) AS n_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS dedup_text FROM k""".stripMargin),

    // per-group contribution cap (the C4 max-pages-per-domain rule):
    // salted-hash selection order, id tiebreak — DuckDB re-derives the
    // exact surviving rows with the same window
    ("p05_cap_per_group",
      (s, sf) => graft.ops.Pipeline.capPerGroup(table(s, sf, "documents"), col("doc_id"),
        col("source"), k = 10, salt = "cap1")
        .select(col("doc_id"), col("source")),
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      list_reduce(list_prepend(7::BIGINT, list_transform(
        |        string_split('cap1:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |        (a, c) -> (a * 257 + c) % 2147483647) % 10000, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin),

    // CCNet-style bigram-LM quality score (self-scored): per-bigram
    // ln-probs are 4-dp rounded then summed as DECIMAL so the mean is
    // order-independent and cross-engine exact; the oracle re-fits the
    // same add-α LM and re-derives every doc's mean log prob
    ("t18_bigram_logprob",
      (s, sf) => TextOps.bigramLogProb(table(s, sf, "documents"), col("doc_id"), col("text")),
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)),'\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk)), i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
        |  FROM toks WHERE len(tk) >= 2),
        |pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (
        |  SELECT unnest(tk) AS t FROM toks)),
        |lp AS (SELECT doc_id,
        |    CAST(floor(ln((c12 + 0.1) / (c1 + 0.1 * v)) * 10000 + 0.5) / 10000
        |      AS DECIMAL(28,4)) AS lp4
        |  FROM pairs JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp4) AS sum4
        |  FROM lp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(agg.n_bigrams, 0) AS n_bigrams,
        |  CASE WHEN agg.n_bigrams IS NULL THEN 0.0
        |       ELSE floor(CAST(sum4 AS DOUBLE) / agg.n_bigrams * 10000 + 0.5) / 10000
        |  END AS avg_logprob
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin),

    // TF-IDF top terms: score rounded to 4dp BEFORE ranking so the
    // ordering is an equality-class rank both engines reproduce (2·ln10
    // vs ln100 can differ in the last bit across libm implementations);
    // the oracle re-derives tf, df and the rounded score in DuckDB
    ("t16_tfidf_topk",
      (s, sf) => TextOps.tfIdfTopTerms(table(s, sf, "documents"), col("doc_id"), col("text"), k = 3),
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
        |    FROM documents WHERE trim(text) <> '')
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    floor(tf * ln((n + 1.0) / (df + 1.0)) * 10000 + 0.5) / 10000 AS score
        |  FROM tf JOIN dfreq USING (term), n),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn FROM scored)
        |SELECT doc_id, term, tf, df, score FROM ranked WHERE rn <= 3""".stripMargin),

    // interval × interval overlap join: order windows vs shipment
    // windows, count of overlapping shipment windows per order — the
    // slot dedup (first shared slot) must make the slotted equi-join
    // land on EXACTLY the inequality-join pairs DuckDB computes
    ("ts04_interval_overlap",
      (s, sf) => {
        val ow = table(s, sf, "orders")
          .filter(col("o_orderkey") % 19 === 0)
          .select(col("o_orderkey"), col("o_orderdate"),
            expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)")
              .as("o_end"))
        val sw = table(s, sf, "lineitem")
          .filter(col("l_quantity") >= 48)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
            expr("timestampadd(DAY, CAST(l_linenumber * 3 AS INT), l_shipdate)")
              .as("l_end"))
        TemporalJoin.intervalOverlapJoin(ow, "o_orderdate", "o_end",
            sw, "l_shipdate", "l_end")
          .groupBy(col("o_orderkey")).agg(count(lit(1)).as("cnt"))
      },
      """SELECT o_orderkey, count(*) AS cnt
        |FROM (SELECT o_orderkey, o_orderdate,
        |        o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT)) AS o_end
        |      FROM orders WHERE o_orderkey % 19 = 0) o
        |JOIN (SELECT l_shipdate,
        |        l_shipdate + to_days(CAST(l_linenumber * 3 AS INT)) AS l_end
        |      FROM lineitem WHERE l_quantity >= 48) l
        |  ON o.o_orderdate <= l.l_end AND l.l_shipdate <= o.o_end
        |GROUP BY o_orderkey""".stripMargin),

    // overlap COUNT on the dual-prefix-sum path — the ts02↔ts24
    // contrast applied to ts04: SAME fixture, SAME DuckDB
    // inequality-join oracle, but the operator never materializes a
    // pair (per-slot start/end counts → two cumulative grids → two
    // broadcast lookups per order window; right side only aggregated).
    // cnt > 0 restores the oracle's inner-join shape
    ("ts27_overlap_count",
      (s, sf) => {
        val ow = table(s, sf, "orders")
          .filter(col("o_orderkey") % 19 === 0)
          .select(col("o_orderkey"), col("o_orderdate"),
            expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)")
              .as("o_end"))
        val sw = table(s, sf, "lineitem")
          .filter(col("l_quantity") >= 48)
          .select(col("l_shipdate"),
            expr("timestampadd(DAY, CAST(l_linenumber * 3 AS INT), l_shipdate)")
              .as("l_end"))
        TemporalJoin.overlapCount(ow, "o_orderdate", "o_end",
            sw, "l_shipdate", "l_end", slotSeconds = 86400L)
          .filter(col("cnt") > 0)
          .select(col("o_orderkey"), col("cnt"))
      },
      """SELECT o_orderkey, count(*) AS cnt
        |FROM (SELECT o_orderkey, o_orderdate,
        |        o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT)) AS o_end
        |      FROM orders WHERE o_orderkey % 19 = 0) o
        |JOIN (SELECT l_shipdate,
        |        l_shipdate + to_days(CAST(l_linenumber * 3 AS INT)) AS l_end
        |      FROM lineitem WHERE l_quantity >= 48) l
        |  ON o.o_orderdate <= l.l_end AND l.l_shipdate <= o.o_end
        |GROUP BY o_orderkey""".stripMargin),

    // sketch gates: the oracle pins the EXACT value (computed by both
    // engines independently) plus a measured-error verdict on the sketch
    // — HLL++/GK are deterministic, so the verdict is reproducible
    ("t09_approx_distinct",
      (s, sf) => TextOps.distinctTermStats(table(s, sf, "documents"), col("text"), rsd = 0.02)
        .select(col("n_terms"),
          (abs(col("n_terms_approx") - col("n_terms")) / col("n_terms") <= 0.05)
            .as("within_5pct")),
      "SELECT COUNT(DISTINCT term) AS n_terms, true AS within_5pct FROM (" +
        "SELECT unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS term " +
        "FROM documents WHERE trim(text) <> '')"),

    ("t10_length_quantiles",
      (s, sf) => TextOps.lengthQuantiles(table(s, sf, "documents"), col("text"),
        qs = Seq(0.5, 0.9, 0.99))
        .select(
          (floor(element_at(col("exact"), 1) * 10000 + 0.5) / 10000).as("p50"),
          (floor(element_at(col("exact"), 2) * 10000 + 0.5) / 10000).as("p90"),
          (floor(element_at(col("exact"), 3) * 10000 + 0.5) / 10000).as("p99"),
          (0 until 3).map(i =>
            abs(element_at(col("approx"), i + 1) - element_at(col("exact"), i + 1)) <=
              greatest(element_at(col("exact"), i + 1) * 0.1, lit(1.0)))
            .reduce(_ && _).as("approx_within_10pct")),
      """WITH n AS (SELECT CASE WHEN trim(text)='' THEN 0
        |  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END::DOUBLE AS ntok
        |  FROM documents)
        |SELECT floor(quantile_cont(ntok, 0.5) * 10000 + 0.5) / 10000 AS p50,
        |       floor(quantile_cont(ntok, 0.9) * 10000 + 0.5) / 10000 AS p90,
        |       floor(quantile_cont(ntok, 0.99) * 10000 + 0.5) / 10000 AS p99,
        |       true AS approx_within_10pct
        |FROM n""".stripMargin),

    // ---- multimodal plumbing (stub decode, real mapPartitions contract) -
    ("mm01_media_meta",
      (s, sf) => Multimodal.decodeMeta(Multimodal.mediaFromDocuments(table(s, sf, "documents")))
        .toDF().select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("n_frames")),
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  64 + (ord(substr(text,1,1)) % 64) * 8 AS width,
        |  64 + (ord(substr(text,2,1)) % 64) * 6 AS height,
        |  1 + octet_length(encode(text)) % 16 AS n_frames
        |FROM documents""".stripMargin),

    // frame sampling = stride filter over generate_series(0, n_frames−1);
    // n_frames is the stub decoder's deterministic byte-length function
    ("mm02_frame_sample",
      (s, sf) => Multimodal.sampleFrames(
        Multimodal.decodeMeta(Multimodal.mediaFromDocuments(table(s, sf, "documents"))), stride = 2),
      "SELECT media_id, frame_idx FROM (SELECT doc_id AS media_id, " +
        "unnest(range(0, 1 + octet_length(encode(text)) % 16)) AS frame_idx " +
        "FROM documents) WHERE frame_idx % 2 = 0"),

    // REAL image decode: per-doc PNG/JPEG payloads are encoded with
    // dimensions/color-type derived from doc_id, then decoded back through
    // javax.imageio — the oracle states the expected width/height/channels
    // from doc_id alone, so a mis-read header (or a stub masquerading as a
    // decoder) cannot pass
    ("mm03_imageio_decode",
      (s, sf) => Multimodal.decodeMeta(Multimodal.imagesFromDocuments(table(s, sf, "documents")))
        .toDF().select(col("media_id"), col("width"), col("height"),
          col("channels"), col("n_frames")),
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 32 AS INTEGER) AS width,
        |  CAST(8 + (doc_id * 7) % 32 AS INTEGER) AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 1 END AS INTEGER) AS channels,
        |  CAST(1 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin),

    // REAL batch resize: every fixture image scaled to 8×8 RGB and
    // re-decoded — the oracle states the post-resize metadata from
    // doc_id alone (a stub or a pass-through cannot pass; the re-decode
    // proves the output bytes are a valid PNG of the target size)
    ("mm04_image_resize",
      (s, sf) => Multimodal.decodeMeta(Multimodal.resizeImages(
        Multimodal.imagesFromDocuments(table(s, sf, "documents")), w = 8, h = 8))
        .toDF().select(col("media_id"), col("width"), col("height"),
          col("channels"), (col("n_bytes") > 0).as("has_bytes")),
      """SELECT doc_id AS media_id, CAST(8 AS INTEGER) AS width,
        |  CAST(8 AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels,
        |  true AS has_bytes
        |FROM documents""".stripMargin),

    // perceptual-hash image near-dup: noise images planted in
    // byte-identical groups (id mod 50); banded 16-bit chunks of the
    // 64-bit aHash make the candidate join bucket-sized, and the exact
    // pair set must equal the group relation — cross-group noise hashes
    // differ in ~32 bits, so a ≤3-bit false pair would fail the gate
    ("mm05_image_phash_dups",
      (s, sf) => Multimodal.imageNearDups(Multimodal.aHash64(
        Multimodal.noiseImagesGrouped(table(s, sf, "documents"), groups = 50)), maxHamming = 3),
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 50 = b.doc_id % 50""".stripMargin),

    // Z-order (Morton) clustering value: the write-side layout lever —
    // the oracle recomputes the exact bit interleave with integer
    // arithmetic, so a shifted bit or swapped dimension cannot pass
    ("l01_zorder_values",
      (s, sf) => table(s, sf, "orders")
        .select(col("o_orderkey"),
          graft.ops.Layout.zValue(col("o_custkey"), col("o_orderkey") % 1024,
            bits = 16).as("z")),
      """SELECT o_orderkey, list_sum(list_transform(range(0, 16), i ->
        |    ((o_custkey // (1::BIGINT << i)) % 2) * (1::BIGINT << (2*i)) +
        |    (((o_orderkey % 1024) // (1::BIGINT << i)) % 2) * (1::BIGINT << (2*i+1))))::BIGINT
        |  AS z
        |FROM orders""".stripMargin),

    // N-ary Z-order (OPTIMIZE ZORDER BY (a,b,c)): bit i of key j at
    // position 3i+j — customer, order-key bucket, and order-day
    // interleaved so sorted z-ranges confine all three dims at once;
    // oracle restates the interleave bit-for-bit (l01's recipe, k=3)
    ("l08_zorder_multi",
      (s, sf) => table(s, sf, "orders")
        .select(col("o_orderkey"),
          graft.ops.Layout.zValueN(Seq(col("o_custkey"),
            col("o_orderkey") % 1024,
            datediff(col("o_orderdate"), lit("1992-01-01"))),
            bits = 10).as("z")),
      """SELECT o_orderkey, list_sum(list_transform(range(0, 10), i ->
        |    ((o_custkey // (1::BIGINT << i)) % 2) * (1::BIGINT << (3*i)) +
        |    (((o_orderkey % 1024) // (1::BIGINT << i)) % 2) * (1::BIGINT << (3*i+1)) +
        |    ((date_diff('day', DATE '1992-01-01', o_orderdate)
        |      // (1::BIGINT << i)) % 2) * (1::BIGINT << (3*i+2))))::BIGINT
        |  AS z
        |FROM orders""".stripMargin),

    // Hilbert-curve clustering key (Iceberg hilbert sort-order /
    // Databricks liquid clustering): the locality-preserving alternative
    // to l01/l08's Z-order — consecutive indices are always grid-
    // adjacent, so sorted ranges never jump the quadrant seams. Oracle
    // restates the quadrant walk bit-for-bit as a chained CTE per level.
    ("l10_hilbert_order",
      (s, sf) => {
        table(s, sf, "orders")
          .select(col("o_orderkey"),
            graft.ops.Layout.hilbertValue(col("o_custkey"),
              col("o_orderkey") % 1024, bits = 10).as("h"))
      },
      hilbertChainSql(10, "o_custkey", "o_orderkey % 1024", "o_orderkey", "orders") +
        "\nSELECT id AS o_orderkey, d AS h FROM h10"),

    // OPTIMIZE/compaction: a 40-file small-file-debris fixture
    // (self-provisioned, idempotent) rewritten toward bytes/5-sized
    // files with ZERO shuffle — Layout.compact makes Spark's own
    // FilePartition planner do the bin-packing and writes one file per
    // bin. Content equality is stated exactly by the oracle (count +
    // id/length checksums restate the documents table); the layout claim
    // rides as a property verdict computed from the REAL compacted
    // output's _metadata.file_path listing: file count at least halved
    // and consistent with the driver-side stats.
    ("l02_compact_small_files",
      (s, sf) => {
        val derived = TpchLake.derivedDir(sf)
        val in = s"$derived/compact_in"
        val out = s"$derived/compact_out"
        if (!new java.io.File(s"$in/_SUCCESS").exists())
          table(s, sf, "documents").repartition(40).write.mode("overwrite").parquet(in)
        val inBytes = new java.io.File(in).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        val st = graft.ops.Layout.compact(s, in, out,
          targetFileBytes = math.max(1L << 16, inBytes / 5))
        val nFiles = countDistinct(col("_metadata.file_path"))
        SourceRegistry.parquet(s, out).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text")).cast("long")).as("len_sum"),
          (nFiles === lit(st.filesAfter) && nFiles <= lit(st.filesBefore / 2) &&
            lit(st.filesAfter >= 1)).as("compacted_ok"))
      },
      """SELECT count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
        |  sum(len(text))::BIGINT AS len_sum, true AS compacted_ok
        |FROM documents""".stripMargin),

    // VACUUM of a manifest-tracked lake dir: planted orphan debris
    // (byte-copies of a live file under unreferenced names — exactly the
    // failed-writer leftovers) is deleted by metadata only; the
    // read-back count proves live data intact AND that the orphans are
    // gone (they would double-count rows on this directory scan)
    ("l07_vacuum_orphans",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/vacuum_tbl"
        val hconf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
        // fresh fixture every run — vacuum mutates the directory
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        graft.ops.Layout.writeWithManifest(s,
          table(s, sf, "documents").repartition(4), dir, "doc_id")
        val liveFile = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
        for (i <- 1 to 2)
          org.apache.hadoop.fs.FileUtil.copy(
            fs, new org.apache.hadoop.fs.Path(liveFile.getPath),
            fs, new org.apache.hadoop.fs.Path(s"$dir/orphan_$i.parquet"),
            false, hconf)
        val st = graft.ops.Layout.vacuum(s, dir)
        SourceRegistry.parquet(s, dir).agg(
          count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          lit(st.filesBefore).as("files_before"),
          lit(st.filesLive).as("files_live"),
          lit(st.filesRemoved).as("files_removed"))
      },
      """SELECT count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
        |  6::BIGINT AS files_before, 4::BIGINT AS files_live,
        |  2::BIGINT AS files_removed
        |FROM documents""".stripMargin),

    // hive-partitioned lake round-trip + pruned read: documents written
    // one directory per lang (self-provisioned, idempotent), then read
    // back filtered to one partition — the partition column must be
    // reconstructed from the directory name and the content must equal
    // the WHERE-filtered table exactly. The pruning itself (reader never
    // lists or opens the other lang directories — PartitionFilters in
    // the scan, before any I/O) is plan-guarded in PlanQualitySpec.
    ("l03_partitioned_lake",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/lake_by_lang"
        if (!new java.io.File(s"$dir/_SUCCESS").exists())
          graft.ops.Layout.writePartitioned(table(s, sf, "documents"), dir, Seq("lang"))
        SourceRegistry.parquet(s, dir).filter(col("lang") === "en")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("len_sum"))
      },
      """SELECT lang, count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
        |  sum(len(text))::BIGINT AS len_sum
        |FROM documents WHERE lang = 'en' GROUP BY lang""".stripMargin),

    // nested-struct schema pruning: events rewritten with a struct
    // column (self-provisioned), then read selecting only ONE subfield —
    // the scan must read meta.user_id alone, not the whole struct
    // (plan-guarded ReadSchema): at 100 TB a metadata struct with a
    // dozen heavy fields would otherwise be fully materialized for a
    // one-field query
    ("q58_nested_pruning",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/nested_events"
        if (!new java.io.File(s"$dir/_SUCCESS").exists())
          EventStreams.readEvents(s, s"$sf/events.parquet")
            .select(col("event_id"),
              struct(col("user_id"), col("event_type"), col("value")).as("meta"))
            .write.mode("overwrite").parquet(dir)
        SourceRegistry.parquet(s, dir)
          .groupBy(col("meta.user_id").as("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      },
      """SELECT user_id, count(*) AS n, sum(event_id)::BIGINT AS id_sum
        |FROM events GROUP BY user_id""".stripMargin),

    // raw text-file ingestion (the most common corpus wire format):
    // one "id<TAB>text" line per doc written once, read back through
    // spark.read.text and re-parsed — the line-oriented path every web
    // dump/JSONL-adjacent pipeline starts from. Aggregates must equal
    // the source table exactly
    ("q57_text_lines",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/text_lines"
        if (!new java.io.File(s"$dir/_SUCCESS").exists())
          table(s, sf, "documents").select(concat(col("doc_id").cast("string"), lit("\t"),
              col("text")).as("value"))
            .coalesce(1).write.mode("overwrite").text(dir)
        s.read.text(dir)
          .select(split(col("value"), "\t", 2).as("p"))
          .select(col("p").getItem(0).cast("long").as("doc_id"),
            col("p").getItem(1).as("text"))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("len_sum"))
      },
      """SELECT count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
        |  sum(len(text))::BIGINT AS len_sum FROM documents""".stripMargin),

    // object-store media ingestion: spark.read.format("binaryFile") over
    // a directory of per-doc .bin payloads (provisioned once,
    // driver-side, bounded to 20 files) — the (path, content) ingestion
    // shape every multimodal pipeline starts from. The gate decodes the
    // bytes back and verifies content equality against the source table
    // (text_match must be true for every row), plus the byte length
    ("mm08_binaryfile_ingest",
      (s, sf) => {
        val dir = new java.io.File(s"${TpchLake.derivedDir(sf)}/bin_media")
        if (!new java.io.File(dir, "_DONE").exists()) {
          dir.mkdirs()
          table(s, sf, "documents").filter(col("doc_id") < 20)
            .select(col("doc_id"), col("text")).collect().foreach { r =>
              java.nio.file.Files.write(dir.toPath.resolve(f"doc_${r.getLong(0)}%05d.bin"),
                r.getString(1).getBytes("UTF-8"))
            }
          java.nio.file.Files.write(dir.toPath.resolve("_DONE"), Array.empty[Byte])
        }
        val bin = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin").load(dir.getAbsolutePath)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
            col("length").as("n_bytes"),
            decode(col("content"), "UTF-8").as("decoded"))
        bin.join(table(s, sf, "documents").select(col("doc_id"), col("text")), "doc_id")
          .select(col("doc_id"), col("n_bytes"),
            (col("decoded") === col("text")).as("text_match"))
      },
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes, true AS text_match
        |FROM documents WHERE doc_id < 20""".stripMargin),

    // plain-parquet TIME TRAVEL: a CDC ledger (base + 2 ordered batches,
    // self-provisioned) answered as-of both points by folding mergeUpsert
    // over the first k batches — Delta's versioned read re-expressed for
    // a bare lake where history IS the retained batch files. The oracle
    // replays both snapshots symbolically (batch 1: %7 updates with %3
    // deletes; batch 2: %11 updates with %5 deletes plus new keys)
    ("l05_time_travel",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/cdc_ledger"
        if (!new java.io.File(s"$dir/batch=2/_SUCCESS").exists()) {
          val d = table(s, sf, "documents").select(col("doc_id"), col("text"))
          d.write.mode("overwrite").parquet(s"$dir/base")
          d.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), concat(col("text"), lit(" u1")).as("text"),
              (col("doc_id") % 3 === 0).as("del"))
            .write.mode("overwrite").parquet(s"$dir/batch=1")
          d.filter(col("doc_id") % 11 === 0)
            .select(col("doc_id"), concat(col("text"), lit(" u2")).as("text"),
              (col("doc_id") % 5 === 0).as("del"))
            .unionByName(d.filter(col("doc_id") % 97 === 0)
              .select((col("doc_id") + 1000000L).as("doc_id"),
                lit("new doc").as("text"), lit(false).as("del")))
            .write.mode("overwrite").parquet(s"$dir/batch=2")
        }
        (1 to 2).map { k =>
          graft.ops.LakeOps.snapshotAsOf(s, dir, k, "doc_id", Some("del"))
            .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
              sum(length(col("text")).cast("long")).as("len_sum"))
            .select(lit(k).as("asof"), col("n"), col("id_sum"), col("len_sum"))
        }.reduce(_ unionByName _)
      },
      """WITH b1 AS (SELECT doc_id, text || ' u1' AS text, doc_id % 3 = 0 AS del
        |  FROM documents WHERE doc_id % 7 = 0),
        |s1 AS (SELECT doc_id, text FROM documents
        |    WHERE doc_id NOT IN (SELECT doc_id FROM b1)
        |  UNION ALL SELECT doc_id, text FROM b1 WHERE NOT del),
        |b2 AS (SELECT doc_id, text || ' u2' AS text, doc_id % 5 = 0 AS del
        |    FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 1000000, 'new doc', false
        |    FROM documents WHERE doc_id % 97 = 0),
        |s2 AS (SELECT doc_id, text FROM s1
        |    WHERE doc_id NOT IN (SELECT doc_id FROM b2)
        |  UNION ALL SELECT doc_id, text FROM b2 WHERE NOT del)
        |SELECT 1 AS asof, count(*) AS n, sum(doc_id)::BIGINT AS id_sum,
        |  sum(len(text))::BIGINT AS len_sum FROM s1
        |UNION ALL
        |SELECT 2, count(*), sum(doc_id)::BIGINT, sum(len(text))::BIGINT FROM s2""".stripMargin),

    // manifest data skipping: per-file min/max stats collected at write
    // time, a selective range scan planned ONLY over the files whose
    // stat interval intersects — the Delta/Iceberg file-skipping half,
    // on a bare parquet lake. Self-provisioned range-clustered fixture;
    // correctness oracle = the plain filtered scan (predicate re-applied
    // exactly, so pruning can only skip, never change results), plus a
    // property verdict that pruning actually engaged
    ("l06_stats_skipping",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/stats_lake"
        if (!new java.io.File(s"${dir}_manifest/_SUCCESS").exists())
          graft.ops.Layout.writeWithManifest(s,
            table(s, sf, "documents").repartitionByRange(8, col("doc_id")), dir, "doc_id")
        val (df, ps) = graft.ops.Layout.scanPruned(s, dir, "doc_id", 100L, 149L)
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(length(col("text")).cast("long")).as("len_sum"),
          (lit(ps.filesRead) >= 1L && lit(ps.filesRead) < lit(ps.filesTotal))
            .as("pruned_ok"))
      },
      """SELECT count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
        |  sum(len(text))::BIGINT AS len_sum, true AS pruned_ok
        |FROM documents WHERE doc_id BETWEEN 100 AND 149""".stripMargin),

    // schema evolution on read: two partition batches written with
    // DIFFERENT schemas (batch 2 adds the lang column), read back with
    // mergeSchema — the union schema applies, pre-evolution rows are
    // NULL for the new column, and nothing is rewritten (evolution is a
    // read-side contract, the parquet-lake form of ALTER TABLE ADD
    // COLUMN). Footer-schema merging touches one footer per FILE, never
    // data bytes.
    ("l04_schema_evolution",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/evolving_lake"
        if (!new java.io.File(s"$dir/batch=2/_SUCCESS").exists()) {
          table(s, sf, "documents").filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), col("text"))
            .write.mode("overwrite").parquet(s"$dir/batch=1")
          table(s, sf, "documents").filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("text"), col("lang"))
            .write.mode("overwrite").parquet(s"$dir/batch=2")
        }
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("n_docs"), count(col("lang")).as("n_lang"),
            sum(col("doc_id")).as("id_sum"))
      },
      """SELECT 1 AS batch, count(*) AS n_docs, 0::BIGINT AS n_lang,
        |  sum(doc_id)::BIGINT AS id_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2, count(*), count(lang), sum(doc_id)::BIGINT
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin),

    // ---- window functions (net-new vs reference §2.5) -------------------
    ("w01_topn_per_group",
      (s, sf) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        table(s, sf, "orders")
          .select(col("o_custkey").as("custkey"), col("o_orderkey").as("okey"),
            col("o_totalprice").as("price"), row_number().over(w).as("rn"))
          .filter(col("rn") <= 2)
      },
      "SELECT custkey, okey, price, rn FROM (SELECT o_custkey AS custkey, " +
        "o_orderkey AS okey, o_totalprice AS price, ROW_NUMBER() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 2"),

    // same semantics as w01 but via the typed TopK Aggregator (bounded
    // O(k) state per group instead of a full per-group window sort)
    ("w02_topn_aggregator",
      (s, sf) => {
        val o = table(s, sf, "orders")
        o.groupBy(col("o_custkey").as("custkey"))
          .agg(graft.functions.TopKAggregator.topK(2)(
            col("o_totalprice"), col("o_orderkey")).as("top"))
          .select(col("custkey"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("custkey"), col("t.id").as("okey"), col("t.score").as("price"),
            (col("pos") + 1).as("rn"))
      },
      "SELECT custkey, okey, price, rn FROM (SELECT o_custkey AS custkey, " +
        "o_orderkey AS okey, o_totalprice AS price, ROW_NUMBER() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 2"),

    // ---- decimal-exact revenue aggregation (order-independent sums) -----
    ("a01_revenue_decimal",
      (s, sf) => table(s, sf, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue")),
      "SELECT l_returnflag AS rf, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem GROUP BY l_returnflag"),

    // ---- structured streaming (file source → watermark → window agg) ----
    ("st01_events_hourly",
      (s, sf) => EventStreams.runHourlyStatsBatch(s, s"$sf/events.parquet"),
      "SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS bucket, " +
        "event_type AS etype, COUNT(*) AS n, floor(SUM(value) * 100 + 0.5) / 100 AS sumv " +
        "FROM events GROUP BY 1, 2"),

    // streaming distinct counting: exact distinct aggregation is ILLEGAL
    // in Structured Streaming (unbounded per-window value state), so the
    // HLL++ sketch is the streamed form; the gate joins the real
    // streaming query's estimates against the batch exact twin and pins
    // the 3·rsd bound (t09/t22's measured-error shape, in a stream)
    // STREAMING KMV sketch: the t45 bottom-k aggregator as streaming
    // aggregation state (O(k) longs per group in the state store). The
    // sketch is a pure function of the value set, so the AvailableNow
    // complete-mode result equals the batch sketch — same exact
    // ORDER BY hash LIMIT k oracle as t45
    ("st18_stream_kmv",
      (s, sf) => EventStreams.runKmvDistinctBatch(s, s"$sf/events.parquet",
        k = 64, salt = "kst"),
      """WITH d AS (SELECT DISTINCT event_type AS scope,
        |    ('0x' || substr(md5('kst:' || user_id::VARCHAR), 1, 13))::BIGINT AS h
        |  FROM events),
        |r AS (SELECT scope, h, row_number() OVER (PARTITION BY scope ORDER BY h) AS rn
        |      FROM d),
        |a AS (SELECT scope, count(*)::BIGINT AS m, max(h) AS kth
        |      FROM r WHERE rn <= 64 GROUP BY scope)
        |SELECT scope, 64 AS k, m,
        |  CASE WHEN m < 64 THEN NULL ELSE kth END AS kth_hash,
        |  CASE WHEN m < 64 THEN m
        |       ELSE (63::BIGINT * 4503599627370496) // kth END AS est
        |FROM a""".stripMargin),

    // STREAMING quantile sketch under an injected MID-BATCH CRASH: each
    // micro-batch's bottom-k partial state lands in an idempotent
    // batch=<id> dir (batch 0 writes a half-batch PARTIAL then dies
    // before the offset commit; the replay's overwrite supersedes it),
    // and the final rollup of the stored partials must be BIT-IDENTICAL
    // to a from-scratch sketch over all rows (union closure — the t53
    // state, proven exactly-once under the st17 failure harness). Same
    // exact ORDER BY h, v LIMIT k oracle as t53.
    ("st19_stream_quantile_sketch",
      (s, sf) => EventStreams.runStreamQuantileCrash(s, s"$sf/events.parquet",
        k = 128, salt = "sqs"),
      """WITH d AS (SELECT DISTINCT event_type AS scope,
        |    ('0x' || substr(md5('sqs:' || event_id::VARCHAR), 1, 13))::BIGINT AS h,
        |    value::DOUBLE AS v FROM events),
        |r AS (SELECT scope, h, v,
        |    row_number() OVER (PARTITION BY scope ORDER BY h, v) AS rn FROM d),
        |sm AS (SELECT scope, v FROM r WHERE rn <= 128),
        |mm AS (SELECT scope, count(*)::BIGINT AS m FROM sm GROUP BY 1),
        |rv AS (SELECT scope, v,
        |    row_number() OVER (PARTITION BY scope ORDER BY v) AS rv FROM sm),
        |nn AS (SELECT event_type AS scope, count(*)::BIGINT AS n
        |       FROM events GROUP BY 1),
        |ix AS (SELECT scope, m, 1 + (1 * (m - 1)) // 2 AS i50,
        |              1 + (9 * (m - 1)) // 10 AS i90 FROM mm)
        |SELECT nn.scope, nn.n, 128 AS k, ix.m, a.v AS q_p50, b.v AS q_p90
        |FROM nn JOIN ix USING (scope)
        |JOIN rv a ON a.scope = ix.scope AND a.rv = ix.i50
        |JOIN rv b ON b.scope = ix.scope AND b.rv = ix.i90""".stripMargin),

    ("st12_stream_distinct_users",
      (s, sf) => EventStreams.runHourlyDistinctBatch(s, s"$sf/events.parquet"),
      """SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS bucket,
        |  count(DISTINCT user_id) AS n_exact, TRUE AS est_ok
        |FROM events GROUP BY 1""".stripMargin),

    // batch sessionize is a pure gaps-and-islands window plan, so the
    // DuckDB twin is the same plan; timestamps compared at µs precision
    ("st02_sessionize",
      (s, sf) => EventStreams.sessionizeBatch(
          EventStreams.readEvents(s, s"$sf/events.parquet"), gapMinutes = 30)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), col("n_events")),
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM m)
        |SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess""".stripMargin),

    // single-source AvailableNow run = one micro-batch, so the surviving
    // key set is exactly the distinct keys — a hard oracle for the
    // streaming dedup path (per-row survivors stay covered by ScalaTest)
    ("st03_streaming_dedup",
      (s, sf) => EventStreams.runStreamingDedupBatch(
        s, s"$sf/events.parquet", "1 hour", Seq("user_id"))
        .select(col("user_id")),
      "SELECT DISTINCT user_id FROM events"),

    // the full production ingest-to-egress path: file source →
    // watermarked dedup → exactly-once PARQUET FILE SINK (append files +
    // _spark_metadata commit log) → read back. Same oracle as st03: the
    // sink must neither drop nor duplicate rows relative to the
    // memory-sink twin.
    ("st08_stream_parquet_sink",
      (s, sf) => EventStreams.runDedupToParquetSink(
        s, s"$sf/events.parquet", "1 hour", Seq("user_id"))
        .select(col("user_id")),
      "SELECT DISTINCT user_id FROM events"),

    // streaming → JDBC UPSERT egress (foreachBatch DELETE+INSERT per
    // key, transactional per partition): run the SAME streaming query
    // TWICE against a real Derby database — the second run replays the
    // source from a fresh checkpoint and the upsert must CONVERGE to
    // identical table state (at-least-once delivery + idempotent upsert
    // = effectively-once), which the batch oracle then pins exactly
    ("st10_stream_jdbc_upsert",
      (s, sf) => {
        val url = "jdbc:derby:memory:graftdb;create=true"
        val table = "EV_UPSERT_" +
          new java.io.File(sf).getName.replaceAll("[^A-Za-z0-9]", "_").toUpperCase
        graft.streaming.JdbcUpsertSink.runEventCountsToJdbc(s, s"$sf/events.parquet", url, table)
        graft.streaming.JdbcUpsertSink.runEventCountsToJdbc(s, s"$sf/events.parquet", url, table)
          .select(col("user_id"), col("n"),
            col("sumv").cast("double").as("sumv"))
      },
      "SELECT user_id, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sumv " +
        "FROM events GROUP BY user_id"),

    // the corpus-filter pipeline (C4 clean → hashed classifier) run as a
    // REAL streaming query: every operator is a stateless per-row
    // Column, so the streaming result must be row-identical to the
    // batch derivation the oracle does — the property that lets one
    // filter codebase serve backfill and live ingest without drift.
    // Same planted 4-cycle as t14 (the raw synthetic text has no
    // newline/punctuation structure for the rules to grip)
    ("st09_stream_corpus_filter",
      (s, sf) => {
        val weights = Seq.tabulate(64)(j => (((j * 37 + 11) % 21) - 10) / 10.0)
        graft.streaming.CorpusStreams.runFilterBatch(
          s, s"$sf/documents.parquet", weights, bias = -0.5,
          prep = d => d.select(col("doc_id"), concat(col("text"),
            when(col("doc_id") % 4 === 0,
              lit("\nKeep this planted prose line today.\nshort no."))
              .when(col("doc_id") % 4 === 1,
                lit("\nvar x = {javascript:1};\nAnother good line stays right here!"))
              .when(col("doc_id") % 4 === 2,
                lit("\nlorem ipsum dolor sit amet.\nThis cookie banner must go away now."))
              .otherwise(lit("\nno terminal punctuation here"))).as("text")))
      },
      """WITH base AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10)||'Keep this planted prose line today.'||chr(10)||'short no.'
        |         WHEN doc_id % 4 = 1 THEN chr(10)||'var x = {javascript:1};'||chr(10)||'Another good line stays right here!'
        |         WHEN doc_id % 4 = 2 THEN chr(10)||'lorem ipsum dolor sit amet.'||chr(10)||'This cookie banner must go away now.'
        |         ELSE chr(10)||'no terminal punctuation here' END AS t FROM documents),
        |k AS (SELECT doc_id,
        |    list_filter(string_split(t, chr(10)), x -> regexp_matches(x, '[.!?"]\s*$')
        |      AND (CASE WHEN trim(x)='' THEN 0
        |           ELSE len(string_split_regex(trim(x),'\s+')) END) >= 3
        |      AND NOT contains(lower(x), '{')
        |      AND NOT contains(lower(x), 'javascript')
        |      AND NOT contains(lower(x), 'lorem ipsum')
        |      AND NOT contains(lower(x), 'cookie')) AS kept
        |  FROM base),
        |c AS (SELECT doc_id, len(kept) AS n_kept,
        |    coalesce(array_to_string(kept, chr(10)), '') AS ct
        |  FROM k WHERE len(kept) >= 1),
        |t AS (SELECT doc_id, n_kept,
        |    CASE WHEN trim(ct)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(ct)),'\s+') END AS toks
        |  FROM c)
        |SELECT doc_id, n_kept,
        |  floor(list_reduce(list_prepend(-0.5::DOUBLE, list_transform(toks, tok ->
        |    ((((list_reduce(list_prepend(7::BIGINT, list_transform(
        |          string_split(tok,''), c -> ord(c)::BIGINT)),
        |        (a, c) -> (a * 257 + c) % 2147483647) % 64) * 37 + 11) % 21 - 10) / 10.0))),
        |    (a, w) -> a + w) * 10000 + 0.5) / 10000 AS margin
        |FROM t""".stripMargin),

    // stream-static join (broadcast dimension per micro-batch, no
    // stream-side join state); AvailableNow run = one batch, so the
    // enriched aggregate has an exact join+groupby twin
    ("st04_stream_enrich",
      (s, sf) => EventStreams.runEnrichedCountsBatch(s, s"$sf/events.parquet", sf),
      "SELECT c_mktsegment AS seg, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sumv " +
        "FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey GROUP BY 1"),

    // the SAME sessions through the custom-state surface
    // (flatMapGroupsWithState): one AvailableNow micro-batch over the
    // single-file source ⇒ each user's full history in one group call ⇒
    // must reproduce st02's gaps-and-islands oracle exactly
    ("st05_sessionize_fmgws",
      (s, sf) => EventStreams.runSessionizeBatch(s, s"$sf/events.parquet",
          gapMinutes = 30)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), col("n_events")),
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM m)
        |SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess""".stripMargin),

    // watermarked stream-stream SELF-join (attribution): views paired
    // with same-user purchases within 30 minutes after them. Both sides
    // are the one file-source stream filtered by type; the two-sided
    // time bound + watermarks give Spark a state-expiry proof, so join
    // state stays bounded on an unbounded stream. Oracle: the plain
    // batch inequality self-join.
    ("st06_stream_stream_join",
      (s, sf) => EventStreams.runAttributionBatch(s, s"$sf/events.parquet",
        windowMinutes = 30),
      """SELECT a.event_id AS view_id, a.user_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    // left-outer stream-stream join: unmatched views emit a NULL
    // purchase only when the watermark passes their window (state expiry
    // IS the emission trigger), so views near the stream's end stay
    // buffered forever — the oracle states that cutoff explicitly:
    // global watermark = least(max view ts, max purchase ts) − the
    // 1-hour delay, and a view emits iff its 30-minute window closed
    // before it. The AvailableNow run's trailing no-data micro-batch is
    // what flushes the expired state.
    ("st07_stream_stream_outer",
      (s, sf) => EventStreams.runAttributionOuterBatch(s, s"$sf/events.parquet",
        windowMinutes = 30),
      """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type='view'),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase'),
        |mx AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p)) AS m),
        |j AS (SELECT v.event_id AS view_id, v.user_id, p.event_id AS purchase_id,
        |        epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us
        |      FROM v JOIN p ON v.user_id = p.user_id
        |       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE)
        |SELECT view_id, user_id, purchase_id, view_us, purchase_us FROM j
        |UNION ALL
        |SELECT v.event_id, v.user_id, NULL, epoch_us(v.ts), NULL
        |FROM v, mx
        |WHERE v.event_id NOT IN (SELECT view_id FROM j)
        |  AND v.ts + INTERVAL 30 MINUTE < mx.m - INTERVAL 60 MINUTE""".stripMargin),

    // ---- temporal joins (net-new; Spark has no native operator) --------
    // as-of enrichment: every event gains the user's latest purchase value
    // at or before its timestamp. Engine: union-and-fill (one keyed
    // shuffle + sort); oracle: DuckDB's native ASOF LEFT JOIN — two
    // independent as-of implementations must agree. Event time goes
    // through the schema-adaptive normalizer (nanos-long / TIMESTAMP /
    // TIMESTAMP_NTZ all land on µs TimestampType — the as-of only orders
    // and compares ts, so precision loss beyond µs cannot occur here).
    ("ts01_asof_enrich",
      (s, sf) => {
        val ev = EventStreams.readEvents(s, s"$sf/events.parquet")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        TemporalJoin.asofJoinBackward(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", ts = "ts", rightVals = Seq("value"))
          .select(col("event_id"), col("value").as("last_purchase"))
      },
      """SELECT e.event_id, p.value AS last_purchase
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),

    // count-only range aggregation on the PREFIX-SUM path (r14 verdict
    // item 1): per-day partial counts (calendar-bounded grid, ~2.5k slots
    // at ANY sf) → one grid-sized prefix sum → two broadcast endpoint
    // lookups per order window. Near-linear by construction where the
    // old intervalJoin+groupBy plan materialized Θ(points × intervals)
    // pairs (measured alpha 1.695 at sf5). Exact here: shipdates and
    // orderdates are DATE columns on the day grid, so slot containment
    // IS closed-interval containment; cnt>0 restores the oracle's
    // inner-join shape. intervalJoin remains the path for per-pair
    // attributes (ts05) and its plan is spec-pinned in OpsSpec.
    ("ts02_range_count",
      (s, sf) => {
        val pts = table(s, sf, "lineitem")
          .filter(col("l_quantity") === 50).select(col("l_shipdate"))
        val ivals = table(s, sf, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)")
              .as("o_end"))
        TemporalJoin.rangeAggregate(pts, "l_shipdate", Nil, ivals,
            "o_orderdate", "o_end", slotSeconds = 86400L)
          .filter(col("cnt") > 0)
          .select(col("o_orderkey"), col("cnt"))
      },
      """SELECT o_orderkey, count(*) AS cnt
        |FROM orders JOIN lineitem ON l_quantity = 50
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT))
        |GROUP BY o_orderkey""".stripMargin),

    // point-in-interval range join via slot bucketing (never a
    // BroadcastNestedLoopJoin), kept on the PAIR-materializing
    // intervalJoin because the output carries per-pair attributes
    // (which line shipped how many days into which order's window) —
    // the workload shape the ts02 prefix-sum path cannot express. Runs
    // the AUTO-slot spelling (slot = median interval length); oracle is
    // DuckDB's inequality join emitting the same per-pair rows.
    ("ts24_interval_pairs",
      (s, sf) => {
        val pts = table(s, sf, "lineitem")
          .filter(col("l_quantity") === 50)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        val ivals = table(s, sf, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)")
              .as("o_end"))
        TemporalJoin.intervalJoin(pts, "l_shipdate", ivals,
            "o_orderdate", "o_end")
          .select(col("o_orderkey"), col("l_orderkey"), col("l_linenumber"),
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
              .as("lag_days"))
      },
      """SELECT o_orderkey, l_orderkey, l_linenumber,
        |  date_diff('day', o_orderdate, l_shipdate)::BIGINT AS lag_days
        |FROM orders JOIN lineitem ON l_quantity = 50
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT))""".stripMargin),

    // the SUM half of the prefix-sum range aggregation: per-window
    // quantity totals from cumulative DECIMAL sums (exact integer/
    // decimal arithmetic end-to-end, so C(end) − C(start−1) is the
    // exact sum — a double cumsum would lose associativity); cast to
    // double only at publication
    ("ts25_range_sum",
      (s, sf) => {
        val pts = table(s, sf, "lineitem")
          .filter(col("l_quantity") >= 45)
          .select(col("l_shipdate"), col("l_quantity"))
        val ivals = table(s, sf, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            expr("timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)")
              .as("o_end"))
        TemporalJoin.rangeAggregate(pts, "l_shipdate",
            Seq("qty" -> col("l_quantity").cast("decimal(18,2)")),
            ivals, "o_orderdate", "o_end", slotSeconds = 86400L)
          .filter(col("cnt") > 0)
          .select(col("o_orderkey"), col("cnt"),
            col("sum_qty").cast("double").as("sum_qty"))
      },
      """SELECT o_orderkey, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON l_quantity >= 45
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT))
        |GROUP BY o_orderkey""".stripMargin),

    // the EDGE contract of the prefix-sum path, driver-gated: intervals
    // with a NULL endpoint or reversed bounds (start after end) contain
    // nothing and must emit an explicit cnt = 0 — never a negative
    // C(end)−C(start−1) through the clamps — while well-formed
    // intervals count exactly; output keeps the zero rows (left-style)
    ("ts26_range_edge",
      (s, sf) => {
        val pts = table(s, sf, "lineitem")
          .filter(col("l_quantity") === 50).select(col("l_shipdate"))
        val endBase = date_add(col("o_orderdate"),
          (col("o_orderkey") % 20 + 1).cast("int"))
        val ivals = table(s, sf, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 11 === 0, lit(null).cast("date"))
              .when(col("o_orderkey") % 5 === 0, endBase)
              .otherwise(col("o_orderdate")).as("o_start"),
            when(col("o_orderkey") % 7 === 0, lit(null).cast("date"))
              .when(col("o_orderkey") % 5 === 0, col("o_orderdate"))
              .otherwise(endBase).as("o_end"))
        TemporalJoin.rangeAggregate(pts, "l_shipdate", Nil, ivals,
            "o_start", "o_end", slotSeconds = 86400L)
          .select(col("o_orderkey"), col("cnt"))
      },
      """WITH iv AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |         WHEN o_orderkey % 5 = 0 THEN
        |           o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT))
        |         ELSE o_orderdate END AS s,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         WHEN o_orderkey % 5 = 0 THEN o_orderdate
        |         ELSE o_orderdate + to_days(CAST(o_orderkey % 20 + 1 AS INT))
        |         END AS e
        |  FROM orders)
        |SELECT iv.o_orderkey, count(l.l_shipdate)::BIGINT AS cnt
        |FROM iv LEFT JOIN lineitem l ON l.l_quantity = 50
        |  AND l.l_shipdate >= iv.s AND l.l_shipdate <= iv.e
        |GROUP BY 1""".stripMargin),

    // the hot-key as-of variant ((key, time-slice) windows + carry-in —
    // the route when one key dominates): same enrichment as ts01, sliced
    // by day (unix_micros of the normalized event time — dtype-agnostic),
    // against the SAME independent DuckDB ASOF oracle — both
    // formulations must land on identical rows
    ("ts03_asof_enrich_sliced",
      (s, sf) => {
        val ev = EventStreams.readEvents(s, s"$sf/events.parquet")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        TemporalJoin.asofJoinBackwardSliced(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", ts = "ts", rightVals = Seq("value"),
          sliceOf = c => floor(unix_micros(c) / lit(86400L * 1000000L)))
          .select(col("event_id"), col("value").as("last_purchase"))
      },
      """SELECT e.event_id, p.value AS last_purchase
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type='purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),

    // ---- end-to-end corpus pipeline (the ops compose) -------------------
    // quality+language filter → fuzzy dedup (MinHash pairs → connected
    // components → min-id survivor) → deterministic 50% sample →
    // token-budget shard packing: every stage is an already-gated
    // operator; this gate pins the COMPOSITION (one DuckDB query
    // re-derives the entire pipeline output, shard assignments included)
    ("e01_corpus_pipeline",
      (s, sf) => {
        val filtered = table(s, sf, "documents").filter(
          TextOps.langId(col("text")) === "en" &&
            TextOps.qualityScore(col("text")) >= 0.35)
        val surv = Dedup.fuzzyDedupCorpus(filtered, col("doc_id"), col("text"),
          n = 3, threshold = 0.8)
        val samp = graft.ops.Pipeline.sampleDeterministic(surv, col("doc_id"),
          rate = 0.5, salt = "e01")
        graft.ops.Pipeline.packByTokenBudget(samp, col("doc_id"),
          TextOps.tokenCount(col("text")), budget = 1500, bucketWidth = 128)
      },
      """WITH RECURSIVE f AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      CASE
        |        WHEN en = best AND best > 0 THEN 'en' WHEN de = best AND best > 0 THEN 'de'
        |        WHEN fr = best AND best > 0 THEN 'fr' WHEN es = best AND best > 0 THEN 'es'
        |        ELSE 'und' END AS lang,
        |      floor((0.4 * (CASE WHEN ntok=0 THEN 0 ELSE nstop::DOUBLE/ntok END)
        |           + 0.3 * least(ntok/100.0, 1.0)
        |           + 0.3 * (1.0 - CASE WHEN len(text)=0 THEN 0 ELSE npunct::DOUBLE/len(text) END))
        |        * 10000 + 0.5) / 10000 AS quality
        |    FROM (SELECT doc_id, text, en, de, fr, es, greatest(en, de, fr, es) AS best,
        |            CASE WHEN trim(text)='' THEN 0 ELSE len(toks) END AS ntok,
        |            CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(toks,
        |              x -> x IN ('the','a','of','and','to','in','is'))) END AS nstop,
        |            len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS npunct
        |      FROM (SELECT doc_id, text,
        |              len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
        |              len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS de,
        |              len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS fr,
        |              len(list_filter(toks, x -> x IN ('el','los','las','y','es','uno','una'))) AS es,
        |              toks
        |            FROM (SELECT doc_id, text,
        |                    string_split_regex(lower(trim(text)),'\s+') AS toks
        |                  FROM documents))))
        |  WHERE lang = 'en' AND quality >= 0.35),
        |sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM f)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM f
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b),
        |surv AS (
        |  SELECT f.doc_id, f.text FROM f
        |  JOIN (SELECT id, MIN(l) AS canonical FROM r GROUP BY id) m
        |    ON f.doc_id = m.id AND f.doc_id = m.canonical),
        |samp AS (
        |  SELECT doc_id, text FROM surv
        |  WHERE list_reduce(list_prepend(7::BIGINT, list_transform(
        |          string_split('e01:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |        (a, c) -> (a * 257 + c) % 2147483647) % 10000 < 5000),
        |n AS (
        |  SELECT doc_id, CASE WHEN trim(text)='' THEN 0
        |    ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS ntok
        |  FROM samp)
        |SELECT doc_id, ntok,
        |  CAST(floor((SUM(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ntok)
        |    / 1500) AS BIGINT) AS shard
        |FROM n""".stripMargin),

    // the round-11 op family composed end-to-end: Gopher rule filter →
    // paragraph-level first-occurrence dedup → token-budget mixture →
    // shard packing, re-derived as ONE DuckDB statement (gates the
    // composition: each stage's output is the next stage's input, so a
    // row leaking through any stage shifts every downstream shard id)
    ("e02_training_mix_pipeline",
      (s, sf) => {
        val d0 = table(s, sf, "documents")
        val passed = TextOps.gopherQuality(d0, col("doc_id"), col("text"))
          .filter(col("gopher_pass")).select("doc_id")
        val deduped = Dedup.dedupParagraphs(d0.join(passed, "doc_id"),
            col("doc_id"), col("text"))
          .join(d0.select(col("doc_id"), col("source")), "doc_id")
        val mixed = graft.ops.Pipeline.mixByTokenBudget(deduped, col("doc_id"),
          col("source"), TextOps.tokenCount(col("text")),
          Map("src0" -> 10000L, "src1" -> 250L, "src2" -> 100L, "src3" -> 50L),
          salt = "e02")
        graft.ops.Pipeline.packByTokenBudget(mixed, col("doc_id"),
          TextOps.tokenCount(col("text")), budget = 1000, bucketWidth = 64)
      },
      """WITH g AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      len(toks) AS n_words,
        |      floor((CASE WHEN len(toks)=0 THEN 0 ELSE
        |        list_sum(list_transform(toks, x -> len(x)))::DOUBLE/len(toks) END)*10000+0.5)/10000 AS mean_wlen,
        |      floor((CASE WHEN len(toks)=0 THEN 0 ELSE
        |        (len(text)-len(replace(replace(text,'#',''),'…','')))::DOUBLE/len(toks) END)*10000+0.5)/10000 AS symbol_ratio,
        |      floor((CASE WHEN len(toks)=0 THEN 0 ELSE
        |        len(list_filter(toks, x -> regexp_matches(x,'[a-z]')))::DOUBLE/len(toks) END)*10000+0.5)/10000 AS alpha_frac,
        |      floor(len(list_filter(lns, l -> regexp_matches(l,'^\s*[-*•]')))::DOUBLE/len(lns)*10000+0.5)/10000 AS bullet_frac,
        |      floor(len(list_filter(lns, l -> regexp_matches(l,'(\.\.\.|…)\s*$')))::DOUBLE/len(lns)*10000+0.5)/10000 AS ellipsis_frac,
        |      len(list_distinct(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))) AS n_stop
        |    FROM (SELECT doc_id, source, text,
        |            CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |                 ELSE string_split_regex(lower(trim(text)),'\s+') END AS toks,
        |            string_split(text, chr(10)) AS lns
        |          FROM documents))
        |  WHERE n_words >= 10 AND mean_wlen BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
        |    AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND n_stop >= 2),
        |d AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text, len(lower(trim(text))) AS nl,
        |      ROW_NUMBER() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn
        |    FROM g)
        |  WHERE nl < 5 OR rn = 1),
        |t AS (SELECT doc_id, source,
        |    CASE WHEN trim(text)='' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |    list_reduce(list_prepend(7::BIGINT, list_transform(
        |      string_split('e02:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |      (a, c) -> (a * 257 + c) % 2147483647) % 10000 AS bk
        |  FROM d),
        |s AS (SELECT source, SUM(ntok) AS tot FROM t GROUP BY source),
        |m AS (SELECT t.doc_id, t.ntok FROM t JOIN s USING (source)
        |  WHERE bk < least(10000,
        |    (CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 250
        |                 WHEN 'src2' THEN 100 WHEN 'src3' THEN 50
        |                 ELSE 0 END) * 10000 // tot))
        |SELECT doc_id, ntok,
        |  CAST(floor((SUM(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ntok)
        |    / 1000) AS BIGINT) AS shard
        |FROM m""".stripMargin),

    // ---- keyword retrieval ----------------------------------------------
    // BM25 over every matching doc (no top-k cut in the gate: a rank
    // boundary between near-equal floats is not a cross-engine contract,
    // the full score relation is). Per-term contributions are 4-dp
    // decimals summed order-independently, like t18.
    ("b01_bm25_scores",
      (s, sf) => Retrieval.bm25Scores(table(s, sf, "documents"), col("doc_id"), col("text"),
        Seq("spark", "vector", "stream")),
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(text)),'\s+') END AS tk
        |  FROM documents),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |    SUM(len(tk))::DOUBLE / count(*) AS avgdl FROM toks),
        |tf AS (SELECT doc_id, t AS term, count(*)::DOUBLE AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, unnest(tk) AS t, len(tk)::DOUBLE AS dl FROM toks)
        |  WHERE t IN ('spark','vector','stream') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |    CAST(floor(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st))))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS s4
        |  FROM tf JOIN dfq USING (term))
        |SELECT doc_id, floor(CAST(SUM(s4) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
        |FROM sc GROUP BY doc_id""".stripMargin),

    // hybrid retrieval: RRF fusion of the BM25 keyword ranking and the
    // embedding-cosine ranking (top-50 each side, 1/(60+rank), absent
    // side contributes 0). Everything after the two retrieval passes is
    // result-sized (≤100 rows); ranks are assigned on 4-dp-rounded
    // scores with id tiebreaks so the fused score is reproducible
    // cross-engine. The oracle restates BOTH rankings (the b01 BM25
    // derivation + the s01 cosine scan) and the fusion arithmetic
    ("b04_hybrid_rrf",
      (s, sf) => Retrieval.hybridTopK(
        table(s, sf, "documents"), col("doc_id"), col("text"),
        table(s, sf, "embeddings"), col("vec_id"), col("embedding"),
        Seq("spark", "vector", "stream"), queryVec(s, sf), k = 20),
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(text)),'\s+') END AS tk
        |  FROM documents),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |    SUM(len(tk))::DOUBLE / count(*) AS avgdl FROM toks),
        |tf AS (SELECT doc_id, t AS term, count(*)::DOUBLE AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, unnest(tk) AS t, len(tk)::DOUBLE AS dl FROM toks)
        |  WHERE t IN ('spark','vector','stream') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |    CAST(floor(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st))))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS s4
        |  FROM tf JOIN dfq USING (term)),
        |bm AS (SELECT doc_id, floor(CAST(SUM(s4) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
        |  FROM sc GROUP BY doc_id),
        |lex0 AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM lex0),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |sem0 AS (SELECT vec_id,
        |    list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS c
        |  FROM embeddings ORDER BY c DESC, vec_id LIMIT 50),
        |sem AS (SELECT vec_id AS doc_id,
        |    row_number() OVER (ORDER BY floor(c*10000+0.5)/10000 DESC, vec_id) AS r_sem
        |  FROM sem0),
        |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem
        |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT doc_id,
        |  floor((coalesce(1::DOUBLE/(60+r_lex), 0) + coalesce(1::DOUBLE/(60+r_sem), 0))
        |    * 1000000 + 0.5) / 1000000 AS rrf6,
        |  r_lex, r_sem
        |FROM f ORDER BY rrf6 DESC, doc_id LIMIT 20""".stripMargin),

    // build the inverted index (grouped, doc_id-sorted posting arrays),
    // then probe two terms back out to flat postings — the round trip is
    // what the oracle can restate
    ("b02_inverted_postings",
      (s, sf) => Retrieval.probePostings(
        Retrieval.invertedIndex(table(s, sf, "documents"), col("doc_id"), col("text")),
        Seq("vector", "stream")),
      """SELECT t AS term, doc_id, count(*) AS tf
        |FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),'\s+')) AS t
        |      FROM documents WHERE trim(text) <> '')
        |WHERE t IN ('vector','stream') GROUP BY 1, 2""".stripMargin),

    // batch retrieval: top-15 per query for a 3-query table in ONE corpus
    // pass (broadcast query terms; global df computed once); rank on the
    // ROUNDED score with doc_id ties — reproducible cross-engine (t16)
    ("b03_bm25_batch",
      (s, sf) => {
        import s.implicits._
        val queries = Seq((1, "spark"), (1, "vector"), (2, "stream"),
          (2, "table"), (3, "slow"), (3, "fast")).toDF("qid", "term")
        Retrieval.bm25BatchTopK(table(s, sf, "documents"), col("doc_id"), col("text"),
          queries, k = 15)
      },
      """WITH qt(qid, term) AS (VALUES (1,'spark'),(1,'vector'),(2,'stream'),
        |    (2,'table'),(3,'slow'),(3,'fast')),
        |toks AS (SELECT doc_id,
        |    CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(text)),'\s+') END AS tk
        |  FROM documents),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |    SUM(len(tk))::DOUBLE / count(*) AS avgdl FROM toks),
        |tf AS (SELECT doc_id, t AS term, count(*)::DOUBLE AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, unnest(tk) AS t, len(tk)::DOUBLE AS dl FROM toks)
        |  WHERE t IN (SELECT term FROM qt) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, term,
        |    CAST(floor(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st))))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS s4
        |  FROM tf JOIN dfq USING (term)),
        |qs AS (SELECT qid, doc_id,
        |    floor(CAST(SUM(s4) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
        |  FROM sc JOIN qt USING (term) GROUP BY 1, 2)
        |SELECT qid, doc_id, bm25, rank FROM (
        |  SELECT qid, doc_id, bm25, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
        |  FROM qs) WHERE rank <= 15""".stripMargin),

    // ---- link-graph triangles -------------------------------------------
    // co-occurrence graph: parts sharing an order; per-node triangle
    // counts via degree-ordered orientation (wedge work Θ(m^1.5) bound).
    // The gate thins to every third part — the UNthinned sf0.1 graph is
    // near-complete (20k nodes, ~900k edges, ~16 s of genuine m^1.5
    // wedge work), which times the fixture's density, not the operator
    ("g02_triangle_counts",
      (s, sf) => {
        val li = table(s, sf, "lineitem")
          .filter(col("l_partkey") % 3 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.select(col("ok"), col("pk").as("p1"))
          .join(li.select(col("ok"), col("pk").as("p2")), "ok")
          .filter(col("p1") < col("p2"))
        graft.ops.Graph.triangleCounts(pairs, col("p1"), col("p2"))
      },
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |    AND a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, count(*) AS n_tri
        |FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node""".stripMargin),

    // pseudo-relevance-feedback retrieval: top-3 feedback docs mine 3
    // expansion terms (tf × t16-idf, 4-dp, term tie-break), second BM25
    // pass with the expanded query; the oracle replays both passes and
    // the term mining verbatim
    // Dirichlet query likelihood (Zhai-Lafferty): the LM retrieval twin
    // of BM25 — per-term ln terms 4-dp floored + DECIMAL-summed (t18
    // recipe), integers feeding every ln so both engines see identical
    // arguments; unseen query terms drop per the LM convention
    ("b06_query_likelihood",
      (s, sf) => Retrieval.queryLikelihoodScores(table(s, sf, "documents"), col("doc_id"),
        col("text"), Seq("spark", "vector", "stream"), mu = 2000.0),
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(text)),'\s+') END AS tk
        |  FROM documents),
        |c AS (SELECT SUM(len(tk))::BIGINT AS c FROM toks),
        |p AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS term FROM toks),
        |q AS (SELECT * FROM p WHERE term IN ('spark','vector','stream')),
        |cf AS (SELECT term, count(*)::BIGINT AS cf FROM q GROUP BY 1),
        |konst AS (SELECT CAST(SUM(CAST(floor(ln(2000.0 * cf / (SELECT c FROM c))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4))) AS DOUBLE) AS k,
        |    count(*)::DOUBLE AS qseen FROM cf),
        |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf, max(dl) AS dl
        |  FROM q GROUP BY 1, 2),
        |sc AS (SELECT doc_id, dl,
        |    CAST(floor(ln(1 + tf * (SELECT c FROM c) / (2000.0 * cf))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS s4
        |  FROM tf JOIN cf USING (term))
        |SELECT doc_id,
        |  floor((CAST(SUM(s4) AS DOUBLE)
        |    - floor((SELECT qseen FROM konst) * ln(max(dl) + 2000.0)
        |            * 10000 + 0.5) / 10000
        |    + (SELECT k FROM konst)) * 10000 + 0.5) / 10000 AS ql4
        |FROM sc GROUP BY doc_id""".stripMargin),

    // NDCG@10 (retrieval grading): exact bit-shift gains, row_number
    // ranks with doc-id tie-breaks, 8-dp floored + DECIMAL-summed terms;
    // all-zero-relevance queries NULL
    // positional-postings proximity search (the NEAR/phrase operator):
    // term-filtered position lists first, then one doc-keyed join with
    // the distance predicate — postings-intersection shape, restated
    // verbatim by the oracle
    ("b08_proximity",
      (s, sf) => graft.ops.Retrieval.proximitySearch(
        table(s, sf, "documents"), col("doc_id"), col("text"), "big", "join", window = 5),
      """WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |pos AS (SELECT doc_id, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) - 1 AS pos FROM tok),
        |pa AS (SELECT doc_id, pos AS p1 FROM pos WHERE w = 'big'),
        |pb AS (SELECT doc_id, pos AS p2 FROM pos WHERE w = 'join'),
        |j AS (SELECT pa.doc_id, abs(p1 - p2) AS d
        |  FROM pa JOIN pb USING (doc_id) WHERE abs(p1 - p2) <= 5)
        |SELECT doc_id, count(*)::BIGINT AS n_pairs, min(d)::BIGINT AS min_dist
        |FROM j GROUP BY doc_id""".stripMargin),

    ("b07_ndcg",
      (s, sf) => Retrieval.ndcgAtK(table(s, sf, "documents"), col("doc_id") % 5,
        col("doc_id"), col("n_chars").cast("double"),
        col("doc_id") % 4, k = 10),
      """WITH b AS (SELECT doc_id % 5 AS q, doc_id AS d, n_chars::DOUBLE AS s,
        |    (doc_id % 4)::INT AS r FROM documents),
        |t AS (SELECT q, r,
        |    row_number() OVER (PARTITION BY q ORDER BY s DESC, d ASC) AS rk,
        |    row_number() OVER (PARTITION BY q ORDER BY r DESC, d ASC) AS rki
        |  FROM b),
        |g AS (SELECT q,
        |    CASE WHEN rk <= 10 THEN
        |      CAST(floor(((1::BIGINT << r) - 1)::DOUBLE
        |        / (ln(rk::DOUBLE + 1.0) / ln(2.0)) * 1e8 + 0.5) / 1e8
        |        AS DECIMAL(38,8)) END AS t,
        |    CASE WHEN rki <= 10 THEN
        |      CAST(floor(((1::BIGINT << r) - 1)::DOUBLE
        |        / (ln(rki::DOUBLE + 1.0) / ln(2.0)) * 1e8 + 0.5) / 1e8
        |        AS DECIMAL(38,8)) END AS ti
        |  FROM t)
        |SELECT q AS qid, count(*)::BIGINT AS n_docs,
        |  CASE WHEN sum(ti) > 0 THEN
        |    floor(CAST(sum(t) AS DOUBLE) / CAST(sum(ti) AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS ndcg6
        |FROM g GROUP BY q""".stripMargin),

    ("b05_prf_expansion",
      (s, sf) => Retrieval.prfTopK(table(s, sf, "documents"), col("doc_id"), col("text"),
        Seq("spark", "vector", "stream"), r = 3, m = 3, k = 10),
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text)='' THEN []::VARCHAR[]
        |         ELSE string_split_regex(lower(trim(text)),'\s+') END AS tk
        |  FROM documents),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |    SUM(len(tk))::DOUBLE / count(*) AS avgdl FROM toks),
        |tf1 AS (SELECT doc_id, t AS term, count(*)::DOUBLE AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, unnest(tk) AS t, len(tk)::DOUBLE AS dl FROM toks)
        |  WHERE t IN ('spark','vector','stream') GROUP BY 1, 2),
        |df1 AS (SELECT term, count(*)::DOUBLE AS df FROM tf1 GROUP BY 1),
        |sc1 AS (SELECT doc_id,
        |    CAST(floor(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st))))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS s4
        |  FROM tf1 JOIN df1 USING (term)),
        |bm1 AS (SELECT doc_id, floor(CAST(SUM(s4) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
        |  FROM sc1 GROUP BY doc_id),
        |fb AS (SELECT doc_id FROM bm1 ORDER BY bm25 DESC, doc_id ASC LIMIT 3),
        |pairs AS (SELECT doc_id, unnest(tk) AS term FROM toks),
        |fbtf AS (SELECT term, count(*)::DOUBLE AS tf FROM pairs
        |  WHERE doc_id IN (SELECT doc_id FROM fb)
        |    AND term NOT IN ('spark','vector','stream') GROUP BY 1),
        |dfc AS (SELECT term, count(*)::DOUBLE AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM pairs) GROUP BY 1),
        |expterms AS (SELECT term FROM (
        |    SELECT fbtf.term AS term,
        |      floor(tf * ln(((SELECT n FROM st) + 1.0) / (df + 1.0))
        |        * 10000 + 0.5) / 10000 AS s4
        |    FROM fbtf JOIN dfc USING (term))
        |  ORDER BY s4 DESC, term ASC LIMIT 3),
        |q2 AS (SELECT unnest(['spark','vector','stream']) AS term
        |  UNION SELECT term FROM expterms),
        |tf2 AS (SELECT doc_id, t AS term, count(*)::DOUBLE AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, unnest(tk) AS t, len(tk)::DOUBLE AS dl FROM toks)
        |  WHERE t IN (SELECT term FROM q2) GROUP BY 1, 2),
        |df2 AS (SELECT term, count(*)::DOUBLE AS df FROM tf2 GROUP BY 1),
        |sc2 AS (SELECT doc_id,
        |    CAST(floor(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
        |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM st))))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS s4
        |  FROM tf2 JOIN df2 USING (term)),
        |bm2 AS (SELECT doc_id, floor(CAST(SUM(s4) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
        |  FROM sc2 GROUP BY doc_id)
        |SELECT doc_id, bm25 FROM bm2 ORDER BY bm25 DESC, doc_id ASC LIMIT 10"""
        .stripMargin),

    // ---- time-grid resample + forward fill ------------------------------
    ("ts06_resample_ffill",
      (s, sf) => EventAnalytics.resampleFfill(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("ts"), col("value"), col("event_id"),
        stepSeconds = 3600L),
      """WITH ev AS (SELECT user_id, ts, value, event_id,
        |    CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket
        |  FROM events),
        |pb AS (SELECT user_id, bucket, value FROM (
        |    SELECT user_id, bucket, value, ROW_NUMBER() OVER (
        |      PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
        |  FROM (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |        FROM ev GROUP BY 1)),
        |f AS (SELECT g.user_id, g.bucket, pb.value AS v
        |  FROM grid g LEFT JOIN pb USING (user_id, bucket))
        |SELECT user_id AS key, make_timestamp(bucket * 3600000000) AS grid_ts,
        |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING) AS value,
        |  v IS NOT NULL AS observed
        |FROM f""".stripMargin),

    // ---- per-group winsorization ----------------------------------------
    ("w04_winsorize",
      (s, sf) => Pipeline.winsorize(
        table(s, sf, "documents").select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("double").as("ntok")),
        col("source"), col("ntok"), lo = 0.05, hi = 0.95),
      """WITH t AS (SELECT doc_id, source,
        |    (CASE WHEN trim(text)='' THEN 0
        |          ELSE len(string_split_regex(lower(trim(text)),'\s+')) END)::DOUBLE AS ntok
        |  FROM documents),
        |q AS (SELECT source, quantile_cont(ntok, 0.05) AS qlo,
        |    quantile_cont(ntok, 0.95) AS qhi FROM t GROUP BY source)
        |SELECT doc_id, t.source, ntok,
        |  floor(least(greatest(ntok, qlo), qhi) * 10000 + 0.5) / 10000 AS clipped
        |FROM t JOIN q USING (source)""".stripMargin),

    // ---- global dense dictionary (surrogate keys / vocabulary) ----------
    ("p06_dict_encode",
      (s, sf) => {
        val p = table(s, sf, "part")
        val dict = Pipeline.dictionary(p, col("p_name"))
        Pipeline.dictEncode(p, col("p_name"), dict, as = "name_id")
          .select(col("p_partkey"), col("p_name"), col("name_id"))
      },
      """WITH d AS (SELECT value, row_number() OVER (ORDER BY value) - 1 AS id
        |  FROM (SELECT DISTINCT p_name AS value FROM part))
        |SELECT p_partkey, p_name, d.id AS name_id
        |FROM part JOIN d ON p_name = d.value""".stripMargin),

    // ---- deterministic train/val/test split -----------------------------
    ("p07_hash_split",
      (s, sf) => Pipeline.hashSplit(table(s, sf, "documents").select(col("doc_id")),
        col("doc_id"), salt = "split1",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)),
      """SELECT doc_id, CASE WHEN bk < 9000 THEN 'train'
        |    WHEN bk < 9500 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  list_reduce(list_prepend(7::BIGINT, list_transform(
        |    string_split('split1:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |    (a, c) -> (a * 257 + c) % 2147483647) % 10000 AS bk
        |  FROM documents)""".stripMargin),

    // ---- hourly volume anomaly scores -----------------------------------
    // each hour's per-type count z-scored against the trailing 24 hours
    // over DENSIFIED buckets (zero hours are observations); exact-moment
    // window sums make z restatable — ROWS BETWEEN 24 PRECEDING AND 1
    // PRECEDING in DuckDB is the identical frame
    ("ts07_hourly_anomalies",
      (s, sf) => {
        val ev = EventStreams.readEvents(s, s"$sf/events.parquet")
        EventAnalytics.hourlyAnomalies(ev, col("ts"), col("event_type"))
      },
      """WITH b AS (SELECT event_type AS etype,
        |    CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket
        |  FROM events),
        |c AS (SELECT etype, bucket, count(*) AS c0 FROM b GROUP BY 1, 2),
        |g AS (SELECT etype, unnest(generate_series(b0, b1)) AS bucket
        |  FROM (SELECT etype, min(bucket) AS b0, max(bucket) AS b1
        |        FROM c GROUP BY 1)),
        |d AS (SELECT g.etype, g.bucket, coalesce(c.c0, 0) AS cc
        |  FROM g LEFT JOIN c USING (etype, bucket)),
        |wv AS (SELECT etype, bucket, cc,
        |    count(*) OVER tw AS n, SUM(cc) OVER tw AS s, SUM(cc*cc) OVER tw AS ss
        |  FROM d WINDOW tw AS (PARTITION BY etype ORDER BY bucket
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT etype, bucket, cc AS n_events,
        |  CASE WHEN n = 24 AND (ss::DOUBLE - s::DOUBLE*s::DOUBLE/n::DOUBLE)/(n::DOUBLE - 1) > 0
        |       THEN floor((cc - s::DOUBLE/n::DOUBLE)
        |         / sqrt((ss::DOUBLE - s::DOUBLE*s::DOUBLE/n::DOUBLE)/(n::DOUBLE - 1))
        |         * 10000 + 0.5) / 10000
        |       ELSE NULL END AS z
        |FROM wv""".stripMargin),

    // ---- STREAMING anomaly detection ------------------------------------
    // the fMGWS custom-state twin of ts07 (rolling windows don't stream;
    // per-type bucket→count maps do — state ∝ hour span, not volume);
    // single-file AvailableNow = one batch, so the real streaming query
    // must equal the batch operator and shares ts07's DuckDB oracle
    ("st13_stream_anomalies",
      (s, sf) => EventStreams.runStreamingAnomaliesBatch(s, s"$sf/events.parquet"),
      """WITH b AS (SELECT event_type AS etype,
        |    CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket
        |  FROM events),
        |c AS (SELECT etype, bucket, count(*) AS c0 FROM b GROUP BY 1, 2),
        |g AS (SELECT etype, unnest(generate_series(b0, b1)) AS bucket
        |  FROM (SELECT etype, min(bucket) AS b0, max(bucket) AS b1
        |        FROM c GROUP BY 1)),
        |d AS (SELECT g.etype, g.bucket, coalesce(c.c0, 0) AS cc
        |  FROM g LEFT JOIN c USING (etype, bucket)),
        |wv AS (SELECT etype, bucket, cc,
        |    count(*) OVER tw AS n, SUM(cc) OVER tw AS s, SUM(cc*cc) OVER tw AS ss
        |  FROM d WINDOW tw AS (PARTITION BY etype ORDER BY bucket
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT etype, bucket, cc AS n_events,
        |  CASE WHEN n = 24 AND (ss::DOUBLE - s::DOUBLE*s::DOUBLE/n::DOUBLE)/(n::DOUBLE - 1) > 0
        |       THEN floor((cc - s::DOUBLE/n::DOUBLE)
        |         / sqrt((ss::DOUBLE - s::DOUBLE*s::DOUBLE/n::DOUBLE)/(n::DOUBLE - 1))
        |         * 10000 + 0.5) / 10000
        |       ELSE NULL END AS z
        |FROM wv""".stripMargin),

    // ---- per-group z-score normalization --------------------------------
    // μ/σ from exact integer moment sums (Σx, Σx²), so the floats are a
    // fixed expression over exact inputs — order-independent, restatable
    ("w05_zscore",
      (s, sf) => Pipeline.zscoreByGroup(
        table(s, sf, "documents").select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("ntok")),
        col("source"), col("ntok")),
      """WITH t AS (SELECT doc_id, source,
        |    (CASE WHEN trim(text)='' THEN 0
        |          ELSE len(string_split_regex(lower(trim(text)),'\s+')) END) AS ntok
        |  FROM documents),
        |q AS (SELECT source, count(*)::DOUBLE AS n, SUM(ntok)::DOUBLE AS s,
        |    SUM(ntok*ntok)::DOUBLE AS ss FROM t GROUP BY source)
        |SELECT doc_id, t.source, ntok,
        |  CASE WHEN n > 1 AND (ss - s*s/n)/(n-1) > 0
        |       THEN floor((ntok - s/n) / sqrt((ss - s*s/n)/(n-1)) * 10000 + 0.5)/10000
        |       ELSE NULL END AS z
        |FROM t JOIN q USING (source)""".stripMargin),

    // time-RANGE window frames (vs the ROWS frames of ts05): trailing
    // 1-hour count + average per user — "events in the last hour", the
    // frame type rows-offsets cannot express (gaps and ties change the
    // row span). The average is derived from an EXACT integer window sum
    // (value scaled to cents with an identical floor on both engines) so
    // the result is frame-sum-order independent — the w05 determinism
    // contract applied to a moving frame
    ("w06_range_frame",
      (s, sf) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600L * 1000000L, Window.currentRow)
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .select(col("event_id"), col("user_id"), col("ts"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("sum_cents", sum(col("cents")).over(w))
          .select(col("event_id"), col("user_id"), col("n_1h"),
            (floor(col("sum_cents") / (col("n_1h") * 100.0) * 10000 + 0.5) / 10000)
              .as("avg1h"))
      },
      """SELECT event_id, user_id, n_1h,
        |  floor(sum_cents::DOUBLE / (n_1h * 100.0) * 10000 + 0.5) / 10000 AS avg1h
        |FROM (SELECT event_id, user_id,
        |    count(*) OVER w AS n_1h,
        |    sum(floor(value * 100 + 0.5)::BIGINT) OVER w AS sum_cents
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))""".stripMargin),

    // per-user interval-UNION coverage: total wall-clock covered by the
    // union of [ts, ts+10min) activity intervals — naive duration sums
    // double-count overlaps. Gaps-and-islands with a running-max-end
    // break condition, one user-keyed shuffle, integer micros end to end
    ("ts09_interval_union",
      (s, sf) => EventAnalytics.intervalUnionLength(
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .select(col("user_id"), unix_micros(col("ts")).as("s0"),
            (unix_micros(col("ts")) + 600000000L).as("e0")),
        col("user_id"), col("s0"), col("e0")),
      """WITH iv AS (SELECT user_id AS k, epoch_us(ts) AS s,
        |    epoch_us(ts) + 600000000 AS e FROM events),
        |o AS (SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM iv),
        |i AS (SELECT k, s, e, sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
        |  FROM o),
        |g AS (SELECT k, island, max(e) - min(s) AS len FROM i GROUP BY 1, 2)
        |SELECT k AS key, count(*) AS n_islands, sum(len)::BIGINT AS covered
        |FROM g GROUP BY k""".stripMargin),

    // native event-time sessionization in BATCH: Spark's session_window
    // (merge events within a 30-minute gap; session end = last event +
    // gap, half-open [start, end)) — the API twin of st02's stateful
    // streaming sessionizer. DuckDB restates it as gaps-and-islands:
    // break on diff >= gap, cumulative break sum = session id
    ("ts08_session_window",
      (s, sf) => EventStreams.readEvents(s, s"$sf/events.parquet")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events")),
      """WITH o AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // ...and the same sessionization as a REAL streaming query (state
    // store, AvailableNow, complete mode so tail sessions emit): the
    // streaming session_window state machine must land on exactly the
    // batch gaps-and-islands result — ts08's oracle verbatim
    ("st14_stream_sessions",
      (s, sf) => EventStreams.runSessionWindowBatch(s, s"$sf/events.parquet"),
      """WITH o AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // JSON property extraction: the semi-structured column every event
    // pipeline carries — get_json_object path extraction (codegen'd,
    // scan-stage) aggregated per type; DuckDB extracts the same path
    // with its JSON operators
    ("q56_json_props",
      (s, sf) => EventStreams.readEvents(s, s"$sf/events.parquet")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max")),
      """SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM (SELECT event_type, CAST(props::JSON->>'k' AS BIGINT) AS k FROM events)
        |GROUP BY event_type""".stripMargin),

    // ---- leakage-safe train/test split ----------------------------------
    // split assigned by NEAR-DUP CLUSTER label, not doc id: every member
    // of a cluster lands in the same slice, so no near-duplicate pair
    // straddles train and held-out — the contamination a per-doc split
    // produces whenever dedup is lenient. Oracle = c01's cluster CTE +
    // the portable hash on the canonical label.
    ("p09_split_leakage_safe",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.minHashNearDups(d, col("doc_id"), col("text"), n = 3, threshold = 0.8),
          col("id_a"), col("id_b"), d, col("doc_id"))
          .select(col("node").as("doc_id"), col("label").as("grp"))
        Pipeline.splitByGroup(clusters, col("grp"), salt = "sp9",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      },
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |      / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8),
        |e AS (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.l FROM e JOIN r ON r.id = e.b),
        |cl AS (SELECT id AS doc_id, MIN(l) AS grp FROM r GROUP BY id)
        |SELECT doc_id, grp, CASE WHEN bk < 9000 THEN 'train'
        |    WHEN bk < 9500 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, grp,
        |  list_reduce(list_prepend(7::BIGINT, list_transform(
        |    string_split('sp9:' || grp::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |    (a, c) -> (a * 257 + c) % 2147483647) % 10000 AS bk
        |  FROM cl)""".stripMargin),

    // ---- PCM audio frame analysis ---------------------------------------
    // REAL s16le decode: payload bytes encode a closed-form sample stream
    // from doc_id; the gate decodes the BYTES and the oracle restates
    // every sample from the formula — a wrong-endian/wrong-sign decode
    // cannot pass (the mm03 image-decode pattern, for audio)
    ("mm06_audio_frames",
      (s, sf) => Multimodal.audioFrames(
        Multimodal.audioFromDocuments(table(s, sf, "documents")), frameLen = 16),
      """SELECT doc_id AS media_id, (i // 16)::INTEGER AS frame_idx,
        |  count(*) AS n_samples,
        |  SUM(abs(((doc_id*31 + i*7919) % 65536) - 32768))::BIGINT AS sum_abs
        |FROM (SELECT doc_id, unnest(range(0, 64 + doc_id % 128)) AS i FROM documents)
        |GROUP BY 1, 2""".stripMargin),

    // segment-change detection over the REAL decoded PCM frames: frames
    // whose amplitude sum jumps > 40000 against the previous frame —
    // keyframe/onset selection as a window over the frame table (rows ∝
    // frames, never samples). Integer arithmetic end to end; the oracle
    // restates every sample, frame sum, and LAG diff from the formula
    ("mm07_audio_onsets",
      (s, sf) => Multimodal.audioOnsets(Multimodal.audioFrames(
        Multimodal.audioFromDocuments(table(s, sf, "documents")), frameLen = 16),
        threshold = 40000L),
      """WITH fr AS (SELECT doc_id AS media_id, (i // 16)::INTEGER AS frame_idx,
        |    SUM(abs(((doc_id*31 + i*7919) % 65536) - 32768))::BIGINT AS sa
        |  FROM (SELECT doc_id, unnest(range(0, 64 + doc_id % 128)) AS i FROM documents)
        |  GROUP BY 1, 2),
        |d AS (SELECT media_id, frame_idx,
        |    sa - lag(sa) OVER (PARTITION BY media_id ORDER BY frame_idx) AS jump
        |  FROM fr)
        |SELECT media_id, frame_idx, jump FROM d WHERE abs(jump) > 40000""".stripMargin),

    // ---- MERGE upsert (lake maintenance) --------------------------------
    // CDC batch → next snapshot: updates on every 7th doc, of which the
    // %3==0 subset are DELETES (removed outright, not re-inserted); one
    // anti join on the key set + union, nothing else touches base bytes
    ("e07_merge_upsert",
      (s, sf) => {
        val d = table(s, sf, "documents").select(col("doc_id"), col("text"))
        val updates = d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" u2")).as("text"),
            (col("doc_id") % 3 === 0).as("del"))
        graft.ops.LakeOps.mergeUpsert(d, updates, "doc_id", Some("del"))
      },
      """WITH u AS (SELECT doc_id, text || ' u2' AS text, doc_id % 3 = 0 AS del
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, text FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM u)
        |UNION ALL
        |SELECT doc_id, text FROM u WHERE NOT del""".stripMargin),

    // write-audit-publish: batch 1 (clean) publishes; batch 2 (nulls
    // planted in every 3rd row) fails its read-back audit and stays
    // quarantined — readPublished must therefore equal batch 1 EXACTLY
    // (a leaked bad batch doubles rows and breaks the hash)
    ("l09_write_audit_publish",
      (s, sf) => {
        val root = s"${TpchLake.derivedDir(sf)}/wap"
        // fresh every run — a published batch stays in the manifest
        new org.apache.hadoop.fs.Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(root), true)
        val d = table(s, sf, "documents").select(col("doc_id"), col("n_chars"))
        val audit = (staged: org.apache.spark.sql.DataFrame) => {
          val bad = staged.filter(col("n_chars").isNull || col("n_chars") < 0)
            .count()
          if (bad > 0) Seq(s"$bad rows violate n_chars NOT NULL >= 0")
          else Seq.empty[String]
        }
        val (ok1, v1) = graft.ops.LakeOps.writeAuditPublish(d, root, audit)
        val bad = d.withColumn("n_chars",
          when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("n_chars")))
        val (ok2, v2) = graft.ops.LakeOps.writeAuditPublish(bad, root, audit)
        require(ok1 && v1.isEmpty, "clean batch must publish")
        require(!ok2 && v2.nonEmpty, "violating batch must quarantine")
        graft.ops.LakeOps.readPublished(s, root)
      },
      "SELECT doc_id, n_chars FROM documents"),

    // CDC apply with an OUT-OF-ORDER multi-version change log:
    // %5==0 keys get U@1 then U@2 (latest wins), the %15==0 subset
    // additionally D@3 (deleted), %15==7 keys get D@1 then I@2
    // (resurrected with the new payload) — the Debezium collapse e07's
    // single-batch merge can't express
    // incremental KMV-sketch maintenance under lake changes: additive
    // scopes MERGE the stored sketch with the delta's sketch (exactly
    // bottom-k(A∪B) by union closure — no rescan of the base); only
    // the erasure-hit scope rebuilds (sketches cannot subtract — the
    // documented deletion contract). The gate output is the maintained
    // estimate table; the oracle computes it FROM SCRATCH on the final
    // state, so maintained ≡ rebuilt is what passing means.
    ("e12_kmv_maintain",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val k = 32
        val additions = d.filter(col("source").isin("src1", "src2"))
          .select(col("source"), concat(col("text"), lit(" v2")).as("text"))
        val baseSk = graft.ops.Sketches.kmvSketchPerGroup(
          d, col("source"), col("text"), k, "kmvm")
        val addSk = graft.ops.Sketches.kmvSketchPerGroup(
          additions, col("source"), col("text"), k, "kmvm")
        val merged = graft.ops.Sketches.kmvMergeSketches(
          baseSk.filter(col("scope") =!= "src3"), addSk, k)
        val rebuilt = graft.ops.Sketches.kmvSketchPerGroup(
          d.filter(col("source") === "src3" && col("doc_id") % 3 =!= 0),
          col("source"), col("text"), k, "kmvm")
        graft.ops.Sketches.kmvEstimate(merged.unionByName(rebuilt), k)
      },
      """WITH fin AS (
        |  SELECT source, text FROM documents
        |  WHERE NOT (source = 'src3' AND doc_id % 3 = 0)
        |  UNION ALL
        |  SELECT source, text || ' v2' FROM documents
        |  WHERE source IN ('src1', 'src2')),
        |d AS (SELECT DISTINCT source AS scope,
        |    ('0x' || substr(md5('kmvm:' || text), 1, 13))::BIGINT AS h FROM fin),
        |r AS (SELECT scope, h, row_number() OVER (PARTITION BY scope ORDER BY h) AS rn
        |      FROM d),
        |a AS (SELECT scope, count(*)::BIGINT AS m, max(h) AS kth
        |      FROM r WHERE rn <= 32 GROUP BY scope)
        |SELECT scope, 32 AS k, m,
        |  CASE WHEN m < 32 THEN NULL ELSE kth END AS kth_hash,
        |  CASE WHEN m < 32 THEN m
        |       ELSE (31::BIGINT * 4503599627370496) // kth END AS est
        |FROM a""".stripMargin),

    ("e11_cdc_apply",
      (s, sf) => {
        val d = table(s, sf, "documents").select(col("doc_id"), col("text"))
        val u1 = d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v1")).as("text"),
            lit(1L).as("seq"), lit("U").as("op"))
        val u2 = d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
            lit(2L).as("seq"), lit("U").as("op"))
        val d3 = d.filter(col("doc_id") % 15 === 0)
          .select(col("doc_id"), lit("").as("text"),
            lit(3L).as("seq"), lit("D").as("op"))
        val dr = d.filter(col("doc_id") % 15 === 7)
          .select(col("doc_id"), lit("").as("text"),
            lit(1L).as("seq"), lit("D").as("op"))
        val ir = d.filter(col("doc_id") % 15 === 7)
          .select(col("doc_id"), lit("resurrected").as("text"),
            lit(2L).as("seq"), lit("I").as("op"))
        // union order deliberately scrambles arrival vs sequence
        val changes = u2.unionByName(dr).unionByName(d3)
          .unionByName(u1).unionByName(ir)
        graft.ops.LakeOps.cdcApply(d, changes, "doc_id", "seq", "op")
      },
      """WITH c AS (
        |  SELECT doc_id, text || ' v1' AS text, 1 AS seq, 'U' AS op
        |    FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, text || ' v2', 2, 'U'
        |    FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, '', 3, 'D'
        |    FROM documents WHERE doc_id % 15 = 0
        |  UNION ALL SELECT doc_id, '', 1, 'D'
        |    FROM documents WHERE doc_id % 15 = 7
        |  UNION ALL SELECT doc_id, 'resurrected', 2, 'I'
        |    FROM documents WHERE doc_id % 15 = 7),
        |latest AS (SELECT doc_id, text, op FROM (
        |  SELECT doc_id, text, op,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC, op ASC) AS rn
        |  FROM c) WHERE rn = 1)
        |SELECT doc_id, text FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM latest)
        |UNION ALL
        |SELECT doc_id, text FROM latest WHERE upper(op) <> 'D'""".stripMargin),

    // GDPR erasure end-to-end: a delete list (every 13th doc) applied
    // through mergeUpsert, then the derived inverted index REBUILT from
    // the erased snapshot and probed — the compliance requirement is
    // that erasure propagates through derived structures, not just the
    // base table. The oracle restates the probe over the erased corpus;
    // a surviving posting from a deleted doc breaks the row set
    ("e09_erasure_propagation",
      (s, sf) => {
        val d = table(s, sf, "documents").select(col("doc_id"), col("text"))
        val dels = d.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), col("text"), lit(true).as("del"))
        val erased = graft.ops.LakeOps.mergeUpsert(d, dels, "doc_id", Some("del"))
        Retrieval.probePostings(
          Retrieval.invertedIndex(erased, col("doc_id"), col("text")),
          Seq("vector", "stream"))
      },
      """SELECT t AS term, doc_id, count(*) AS tf
        |FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),'\s+')) AS t
        |      FROM documents WHERE trim(text) <> '' AND doc_id % 13 <> 0)
        |WHERE t IN ('vector','stream') GROUP BY 1, 2""".stripMargin),

    // ---- SCD2 dimension merge -------------------------------------------
    // type-2 history: changed payloads close the current row at the
    // change date and open a new one; identical payloads are no-ops;
    // unknown keys insert. History rows pass through without joining.
    ("e08_scd2_merge",
      (s, sf) => {
        val c = table(s, sf, "customer")
        val current = c.select(col("c_custkey").as("k"),
          col("c_nationkey").as("nat"),
          to_date(lit("2020-01-01")).as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val hist = c.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey").as("k"),
            ((col("c_nationkey") + 24) % 25).as("nat"),
            to_date(lit("2019-01-01")).as("valid_from"),
            to_date(lit("2020-01-01")).as("valid_to"))
        val changes = c.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey").as("k"), ((col("c_nationkey") + 1) % 25).as("nat"))
          .unionByName(c.filter(col("c_custkey") % 5 === 1)
            .select(col("c_custkey").as("k"), col("c_nationkey").as("nat")))
          .unionByName(c.filter(col("c_custkey") % 100 === 0)
            .select((col("c_custkey") + 1000000L).as("k"), lit(7).as("nat")))
        graft.ops.LakeOps.scd2Merge(hist.unionByName(current), changes, "k",
          Seq("nat"), to_date(lit("2024-06-01")))
      },
      """WITH cur AS (SELECT c_custkey AS k, c_nationkey AS nat,
        |    DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        |  FROM customer),
        |hist AS (SELECT c_custkey AS k, (c_nationkey + 24) % 25 AS nat,
        |    DATE '2019-01-01' AS valid_from, DATE '2020-01-01' AS valid_to
        |  FROM customer WHERE c_custkey % 10 = 0),
        |ch AS (SELECT c_custkey AS k, (c_nationkey + 1) % 25 AS nat
        |    FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 5 = 1
        |  UNION ALL SELECT c_custkey + 1000000, 7 FROM customer WHERE c_custkey % 100 = 0),
        |eff AS (SELECT ch.k, ch.nat FROM ch JOIN cur ON ch.k = cur.k AND ch.nat <> cur.nat)
        |SELECT k, nat, valid_from, valid_to FROM hist
        |UNION ALL
        |SELECT cur.k, cur.nat, cur.valid_from,
        |  CASE WHEN eff.k IS NOT NULL THEN DATE '2024-06-01' ELSE NULL END
        |FROM cur LEFT JOIN eff ON cur.k = eff.k
        |UNION ALL
        |SELECT k, nat, DATE '2024-06-01', NULL FROM eff
        |UNION ALL
        |SELECT ch.k, ch.nat, DATE '2024-06-01', NULL FROM ch
        |WHERE ch.k NOT IN (SELECT k FROM cur)""".stripMargin),

    // ---- LSH index maintenance under merge + erasure ---------------------
    // the lake story meets the dedup story: maintain the persisted
    // (sid, band, bhash) banded index through an upsert batch (every 5th
    // doc rewritten) and an erasure batch (every 11th doc, disjoint),
    // then answer near-dup pairs FROM THE MAINTAINED INDEX — batch-cost
    // maintenance instead of re-signing the corpus. The spec asserts the
    // maintained index is row-identical to a from-scratch rebuild; this
    // gate's pair set matches the exact-Jaccard oracle over the
    // post-merge corpus (the d03 recall-1 recipe at 16×4, j ≥ 0.8)
    ("e10_lsh_index_maintain",
      (s, sf) => {
        val d = table(s, sf, "documents")
        val baseIdx = Dedup.lshBucketRows(d, col("doc_id"), col("text"), n = 3)
        val ups = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" zz updated v2")).as("text"))
        val era = d.filter(pmod(col("doc_id"), lit(11)) === 0 &&
          pmod(col("doc_id"), lit(5)) =!= 0).select(col("doc_id"))
        val idx = Dedup.lshIndexMaintain(baseIdx, ups, col("doc_id"),
          col("text"), era, col("doc_id"), n = 3)
        val post = d.filter(!(pmod(col("doc_id"), lit(11)) === 0 &&
            pmod(col("doc_id"), lit(5)) =!= 0))
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" zz updated v2")))
              .otherwise(col("text")).as("text"))
        Dedup.verifyCandidatePairs(Dedup.lshIndexCandidates(idx), post,
          col("doc_id"), col("text"), n = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b"))
      },
      """WITH post AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' zz updated v2'
        |         ELSE text END AS text
        |  FROM documents WHERE NOT (doc_id % 11 = 0 AND doc_id % 5 <> 0)),
        |sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM post))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8""".stripMargin),

    // ---- charset profile -------------------------------------------------
    // encoding-health signal over text with PLANTED non-ASCII suffixes
    // (every 9th doc gets "é漢字" appended — the fixture corpus is pure
    // ASCII, so unplanted ratios would not discriminate)
    ("t24_charset_profile",
      (s, sf) => table(s, sf, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 9 === 0, lit(" é漢字")).otherwise(lit(""))).as("t"))
        .select(col("doc_id"),
          TextOps.charsetProfile(col("t")).as("p"))
        .select(col("doc_id"), col("p.ascii_ratio"), col("p.alpha_ratio")),
      """SELECT doc_id,
        |  floor(length(regexp_replace(t, '[^\x00-\x7F]', '', 'g'))::DOUBLE
        |    / length(t) * 10000 + 0.5) / 10000 AS ascii_ratio,
        |  floor(length(regexp_replace(lower(t), '[^a-z]', '', 'g'))::DOUBLE
        |    / length(t) * 10000 + 0.5) / 10000 AS alpha_ratio
        |FROM (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' é漢字' ELSE '' END AS t
        |  FROM documents) WHERE length(t) > 0""".stripMargin),

    // inline pipeline observability (the Observation API): quality
    // metrics collected DURING a pipeline action — no second scan, no
    // separate metrics job; the accumulator rides the existing pass,
    // which is how a 100 TB job affords its own health counters. The
    // observed values are re-entered as a single literal row and must
    // equal the oracle's direct aggregation
    ("a09_observe_metrics",
      (s, sf) => {
        val obs = org.apache.spark.sql.Observation(s"q_${System.nanoTime()}")
        val pipeline = table(s, sf, "documents")
          .observe(obs, count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
            count(when(trim(col("text")) === "", lit(1))).as("n_empty"))
          .filter(trim(col("text")) =!= "")
        pipeline.write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        Seq((m("n_docs").asInstanceOf[Long], m("n_tokens").asInstanceOf[Long],
          m("n_empty").asInstanceOf[Long]))
          .toDF("n_docs", "n_tokens", "n_empty")
      },
      """SELECT count(*) AS n_docs,
        |  sum(CASE WHEN trim(text)='' THEN 0
        |      ELSE len(string_split_regex(lower(trim(text)),'\s+')) END)::BIGINT
        |    AS n_tokens,
        |  count(CASE WHEN trim(text)='' THEN 1 END) AS n_empty
        |FROM documents""".stripMargin),

    // correlation from EXACT integer moments: Pearson corr of quantity vs
    // price (cents) per return flag, computed from decimal-summed
    // Σx Σy Σxy Σx² Σy² — order-independent where a native corr()
    // aggregate is not (both engines stream partial moments in their own
    // order); the final formula is one identical double expression over
    // identical exact inputs
    ("a08_corr_moments",
      (s, sf) => {
        val li = table(s, sf, "lineitem")
          .select(col("l_returnflag").as("flag"),
            floor(col("l_quantity") + 0.5).cast("long").as("x"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"))
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))
        val m = li.groupBy(col("flag")).agg(
          count(lit(1)).as("n"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x") * col("y"))).as("sxy"),
          sum(dec(col("x") * col("x"))).as("sxx"),
          sum(dec(col("y") * col("y"))).as("syy"))
        val nD = col("n").cast("double")
        val cov = nD * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val vx = nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val vy = nD * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")
        m.select(col("flag"), col("n"),
          (floor(cov / sqrt(vx * vy) * 1000000 + 0.5) / 1000000).as("corr6"))
      },
      """WITH t AS (SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS x,
        |    floor(l_extendedprice * 100 + 0.5)::BIGINT AS y
        |  FROM lineitem),
        |m AS (SELECT flag, count(*) AS n,
        |    sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(38,0)) AS sy,
        |    sum((x*y)::DECIMAL(38,0)) AS sxy,
        |    sum((x*x)::DECIMAL(38,0)) AS sxx,
        |    sum((y*y)::DECIMAL(38,0)) AS syy
        |  FROM t GROUP BY flag)
        |SELECT flag, n,
        |  floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |         * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS corr6
        |FROM m""".stripMargin),

    // ---- distribution drift ----------------------------------------------
    // per-source unigram drift: total-variation distance between each
    // source's token distribution and the rest of the corpus — the
    // mixture-audit statistic, smoothing-free unlike KL. The absent-term
    // mass folds into 1 − Σ_present q, so cost is Σ per-slice vocab with
    // NO slice×vocab cross join; per-term sums are 10-dp decimals
    // (order-independent), restated op-for-op by the oracle
    ("t26_tvd_drift",
      (s, sf) => TextOps.distributionDrift(table(s, sf, "documents"), col("source"), col("text")),
      """WITH pairs AS (SELECT source AS slice,
        |    unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''),
        |sc AS (SELECT slice, term, count(*) AS c FROM pairs GROUP BY 1, 2),
        |sn AS (SELECT slice, sum(c)::BIGINT AS n_slice FROM sc GROUP BY 1),
        |tg AS (SELECT term, sum(c)::BIGINT AS c_glob FROM sc GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM sc),
        |j AS (SELECT sc.slice,
        |    CAST(floor(abs(sc.c::DOUBLE / sn.n_slice::DOUBLE
        |      - (tg.c_glob - sc.c)::DOUBLE / ((SELECT n FROM tot) - sn.n_slice)::DOUBLE)
        |      * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10)) AS ad,
        |    CAST(floor((tg.c_glob - sc.c)::DOUBLE
        |      / ((SELECT n FROM tot) - sn.n_slice)::DOUBLE
        |      * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10)) AS qd
        |  FROM sc JOIN sn USING (slice) JOIN tg USING (term)
        |  WHERE sn.n_slice < (SELECT n FROM tot))
        |SELECT slice, count(*) AS n_terms,
        |  floor((CAST(sum(ad) AS DOUBLE) + 1.0 - CAST(sum(qd) AS DOUBLE)) / 2.0
        |    * 1000000 + 0.5) / 1000000 AS tvd6
        |FROM j GROUP BY slice""".stripMargin),

    // lexical diversity per source (dataset-card stats): type-token
    // ratio + hapax fraction, exact integer counts, two 6-dp divisions
    ("t39_lexical_diversity",
      (s, sf) => TextOps.lexicalDiversity(table(s, sf, "documents"), col("source"), col("text")),
      """WITH tf AS (SELECT source AS slice, t AS term, count(*)::BIGINT AS c
        |  FROM (SELECT source,
        |          unnest(string_split_regex(lower(trim(text)),'\s+')) AS t
        |        FROM documents WHERE trim(text) <> '')
        |  GROUP BY 1, 2)
        |SELECT slice, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |  floor(count(*)::DOUBLE / sum(c) * 1000000 + 0.5) / 1000000 AS ttr6,
        |  floor(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
        |    * 1000000 + 0.5) / 1000000 AS hapax_frac6
        |FROM tf GROUP BY slice""".stripMargin),

    // Jensen-Shannon drift (log2) per source: same absent-mass folding as
    // t26's TVD — slice-absent terms contribute exactly q/2 each, so the
    // sum runs over present terms plus the (1 - sum q)/2 remainder;
    // per-term contributions 10-dp floored + DECIMAL-summed
    ("t38_jsd_drift",
      (s, sf) => TextOps.jsDivergenceDrift(table(s, sf, "documents"), col("source"), col("text")),
      """WITH pairs AS (SELECT source AS slice,
        |    unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''),
        |sc AS (SELECT slice, term, count(*) AS c FROM pairs GROUP BY 1, 2),
        |sn AS (SELECT slice, sum(c)::BIGINT AS n_slice FROM sc GROUP BY 1),
        |tg AS (SELECT term, sum(c)::BIGINT AS c_glob FROM sc GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM sc),
        |pq AS (SELECT sc.slice,
        |    sc.c::DOUBLE / sn.n_slice::DOUBLE AS p,
        |    (tg.c_glob - sc.c)::DOUBLE
        |      / ((SELECT n FROM tot) - sn.n_slice)::DOUBLE AS q,
        |    (tg.c_glob > sc.c) AS has_q
        |  FROM sc JOIN sn USING (slice) JOIN tg USING (term)
        |  WHERE sn.n_slice < (SELECT n FROM tot)),
        |j AS (SELECT slice,
        |    CAST(floor((p * (ln(2.0 * p / (p + q)) / ln(2.0))
        |      + CASE WHEN has_q THEN q * (ln(2.0 * q / (p + q)) / ln(2.0))
        |             ELSE 0.0 END) * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10)) AS td,
        |    CAST(floor(q * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10)) AS qd
        |  FROM pq)
        |SELECT slice, count(*) AS n_terms,
        |  floor((CAST(sum(td) AS DOUBLE) + 1.0 - CAST(sum(qd) AS DOUBLE)) / 2.0
        |    * 1000000 + 0.5) / 1000000 AS jsd6
        |FROM j GROUP BY slice""".stripMargin),

    // per-dimension embedding health stats: one posexplode + one
    // dim-keyed aggregate; mean/var are stats of the 6-dp-quantized
    // values (DECIMAL-summed, order-free), min/max raw float32-exact
    ("s18_embed_dim_stats",
      (s, sf) => graft.ops.Similarity.embeddingDimStats(table(s, sf, "embeddings"), col("embedding")),
      """WITH x AS (SELECT unnest(embedding)::DOUBLE AS v,
        |    (generate_subscripts(embedding, 1) - 1)::INT AS dim
        |  FROM embeddings),
        |d AS (SELECT dim, v,
        |    CAST(floor(v * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) AS v6,
        |    CAST(floor(v * v * 1e10 + 0.5) / 1e10 AS DECIMAL(38,10)) AS sq10
        |  FROM x)
        |SELECT dim, count(*)::BIGINT AS n,
        |  floor(CAST(sum(v6) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
        |    AS mean6,
        |  floor((CAST(sum(sq10) AS DOUBLE)
        |      - CAST(sum(v6) AS DOUBLE) * CAST(sum(v6) AS DOUBLE) / count(*))
        |    / count(*) * 1000000 + 0.5) / 1000000 AS var6,
        |  min(v) AS vmin, max(v) AS vmax
        |FROM d GROUP BY dim""".stripMargin),

    // top principal component by fixed-iteration power method: centered
    // Gram via 10-dp-floored DECIMAL-summed products (bit-identical C on
    // any engine/partitioning), then 8 quantized driver iterations the
    // oracle unrolls step-for-step — sign pinned by v0, every
    // intermediate reproducible decimal arithmetic (see pcaPowerSql)
    ("s19_pca_top_component",
      (s, sf) => graft.ops.Similarity.principalComponent(
        table(s, sf, "embeddings"), col("vec_id"), col("embedding"), iterations = 8),
      pcaPowerSql(iterations = 8)),

    // Benford first-digit profile: digit from the DECIMAL's string
    // rendering (identical cross-engine; no float log/pow boundary at
    // powers of ten), expected share = log10(1+1/d), both 6-dp floored
    ("a15_benford",
      (s, sf) => graft.ops.Profile.benfordProfile(
        table(s, sf, "orders"), col("o_totalprice")),
      """WITH d AS (SELECT regexp_extract(abs(o_totalprice)::VARCHAR,
        |      '([1-9])', 1) AS dg FROM orders),
        |c AS (SELECT dg::INT AS digit, count(*)::BIGINT AS n
        |  FROM d WHERE dg <> '' GROUP BY 1)
        |SELECT digit, n,
        |  floor(n::DOUBLE / (SELECT sum(n) FROM c) * 1000000 + 0.5) / 1000000
        |    AS obs_p6,
        |  floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000 AS exp_p6
        |FROM c""".stripMargin),

    // exact ROC-AUC (Mann-Whitney midranks): integer until ONE division;
    // rank window over DISTINCT scores, never a row-sized sort
    // sample-ratio-mismatch health check on a deliberately BIASED
    // assignment (user_id%10<4 -> 40% observed vs 50% designed): the
    // chi-square must flag it. Exact counts, one IEEE chi2, pinned
    // 3.841459 critical value
    // multi-touch attribution (linear + U-shaped in one pass): journey
    // id = running count of prior purchases per user (a window, no
    // self-join); credits 6-dp-floored and summed as exact
    // DECIMAL(20,6) so channel totals are layout-independent and the
    // oracle restates the whole thing
    ("f12_attribution",
      (s, sf) => graft.ops.EventAnalytics.multiTouchAttribution(
        table(s, sf, "events"), col("user_id"), col("ts"), col("event_id"),
        col("event_type"), convType = "purchase",
        touchTypes = Seq("click", "view")),
      """WITH base AS (SELECT user_id AS u, ts AS t, event_id AS e,
        |    event_type AS ty,
        |    coalesce(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS jid
        |  FROM events),
        |convs AS (SELECT DISTINCT u, jid FROM base WHERE ty = 'purchase'),
        |touches AS (SELECT * FROM base WHERE ty IN ('click', 'view')),
        |scored AS (SELECT tt.ty,
        |    row_number() OVER (PARTITION BY tt.u, tt.jid
        |                       ORDER BY tt.t ASC, tt.e ASC) AS r,
        |    count(*) OVER (PARTITION BY tt.u, tt.jid) AS k
        |  FROM touches tt JOIN convs USING (u, jid)),
        |cr AS (SELECT ty AS channel,
        |    CAST(floor(1.0::DOUBLE / k::DOUBLE * 1e6 + 0.5) / 1e6
        |      AS DECIMAL(20,6)) AS lc,
        |    CAST(floor(CASE WHEN k = 1 THEN 1.0::DOUBLE
        |        WHEN k = 2 THEN 0.5::DOUBLE
        |        WHEN r = 1 OR r = k THEN 0.4::DOUBLE
        |        ELSE 0.2::DOUBLE / (k - 2)::DOUBLE END * 1e6 + 0.5) / 1e6
        |      AS DECIMAL(20,6)) AS uc
        |  FROM scored)
        |SELECT channel, count(*)::BIGINT AS n_touches,
        |  CAST(SUM(lc) AS DOUBLE) AS linear6, CAST(SUM(uc) AS DOUBLE) AS u6
        |FROM cr GROUP BY channel""".stripMargin),

    ("f11_srm_check",
      (s, sf) => graft.ops.EventAnalytics.srmCheck(
        table(s, sf, "events").groupBy(col("user_id")).agg(count(lit(1)).as("__n")),
        col("user_id") % 10 < 4),
      """WITH u AS (SELECT user_id FROM events GROUP BY 1),
        |g AS (SELECT sum(CASE WHEN user_id % 10 < 4 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
        |    sum(CASE WHEN user_id % 10 < 4 THEN 0 ELSE 1 END)::BIGINT AS n_ctrl
        |  FROM u),
        |e AS (SELECT n_treat, n_ctrl,
        |    (n_treat + n_ctrl)::DOUBLE * 0.5 AS et,
        |    (n_treat + n_ctrl)::DOUBLE * 0.5 AS ec FROM g)
        |SELECT n_treat, n_ctrl,
        |  CASE WHEN n_treat + n_ctrl > 0 THEN
        |    floor(((n_treat::DOUBLE - et) * (n_treat::DOUBLE - et) / et
        |      + (n_ctrl::DOUBLE - ec) * (n_ctrl::DOUBLE - ec) / ec)
        |      * 1000000 + 0.5) / 1000000
        |  END AS chi2_6,
        |  CASE WHEN n_treat + n_ctrl > 0 THEN
        |    ((n_treat::DOUBLE - et) * (n_treat::DOUBLE - et) / et
        |      + (n_ctrl::DOUBLE - ec) * (n_ctrl::DOUBLE - ec) / ec) > 3.841459
        |  END AS srm_suspected
        |FROM e""".stripMargin),

    // CUPED variance-reduced A/B effect over a deterministic experiment
    // fixture: units = user_id, arm = user_id%2, pre-covariate x = sum
    // of even-event 2-dp-floored values, metric y = odd-event sums —
    // exact DECIMAL moments (a08), theta/effects one IEEE chain each
    ("f10_cuped",
      (s, sf) => {
        val units = table(s, sf, "events").groupBy(col("user_id")).agg(
          sum(when(col("event_id") % 2 === 0,
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("x"),
          sum(when(col("event_id") % 2 === 1,
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("y"))
        graft.ops.EventAnalytics.cuped(units,
          col("x"), col("y"), col("user_id") % 2 === 0)
      },
      """WITH u AS (SELECT user_id,
        |    sum(CASE WHEN event_id % 2 = 0
        |        THEN floor(value * 100 + 0.5)::BIGINT ELSE 0 END) AS x,
        |    sum(CASE WHEN event_id % 2 = 1
        |        THEN floor(value * 100 + 0.5)::BIGINT ELSE 0 END) AS y
        |  FROM events GROUP BY 1),
        |arms AS (SELECT user_id % 2 = 0 AS t, count(*)::BIGINT AS n,
        |    sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(38,0)) AS sy,
        |    sum((x*y)::DECIMAL(38,0)) AS sxy,
        |    sum((x*x)::DECIMAL(38,0)) AS sxx,
        |    sum((y*y)::DECIMAL(38,0)) AS syy
        |  FROM u GROUP BY 1),
        |p AS (SELECT sum(n)::BIGINT AS n, sum(sx) AS sx, sum(sy) AS sy,
        |    sum(sxy) AS sxy, sum(sxx) AS sxx, sum(syy) AS syy FROM arms),
        |ta AS (SELECT n AS tn, sx AS tsx, sy AS tsy FROM arms WHERE t),
        |ca AS (SELECT n AS cn, sx AS csx, sy AS csy FROM arms WHERE NOT t),
        |e AS (SELECT tn, cn,
        |    p.n::DOUBLE * p.sxy::DOUBLE - p.sx::DOUBLE * p.sy::DOUBLE AS cov,
        |    p.n::DOUBLE * p.sxx::DOUBLE - p.sx::DOUBLE * p.sx::DOUBLE AS vx,
        |    p.n::DOUBLE * p.syy::DOUBLE - p.sy::DOUBLE * p.sy::DOUBLE AS vy,
        |    tsy::DOUBLE / tn::DOUBLE - csy::DOUBLE / cn::DOUBLE AS dy,
        |    tsx::DOUBLE / tn::DOUBLE - csx::DOUBLE / cn::DOUBLE AS dx
        |  FROM p, ta, ca)
        |SELECT tn AS n_treat, cn AS n_ctrl,
        |  CASE WHEN vx > 0 THEN floor(cov / vx * 1000000 + 0.5) / 1000000
        |  END AS theta6,
        |  floor(dy * 1000000 + 0.5) / 1000000 AS effect_raw6,
        |  CASE WHEN vx > 0 THEN
        |    floor((dy - cov / vx * dx) * 1000000 + 0.5) / 1000000
        |  END AS effect_cuped6,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    floor(cov * cov / (vx * vy) * 1000000 + 0.5) / 1000000
        |  END AS rho2_6
        |FROM e""".stripMargin),

    // Fleiss' kappa (multi-rater agreement) over a deterministic
    // annotation fixture: items = user_id%100, each item's first 3
    // events (by event_id) are its "ratings", category = event_type.
    // P-bar and Pe both collapse to closed forms over EXACT integer
    // aggregates (S = sum nij^2, sum cj^2) — one identical IEEE
    // expression each, 6-dp floored
    ("a22_fleiss_kappa",
      (s, sf) => graft.ops.Checks.fleissKappa(table(s, sf, "events"),
        col("user_id") % 100, col("event_type"), col("event_id"), n = 3),
      """WITH r AS (SELECT user_id % 100 AS it, event_type AS cat,
        |    ROW_NUMBER() OVER (PARTITION BY user_id % 100 ORDER BY event_id) AS rn
        |  FROM events),
        |kept AS (SELECT it, cat FROM r WHERE rn <= 3),
        |full_i AS (SELECT it FROM kept GROUP BY it HAVING count(*) = 3),
        |cells AS (SELECT k.it, k.cat, count(*)::BIGINT AS nij
        |  FROM kept k JOIN full_i USING (it) GROUP BY 1, 2),
        |stats AS (SELECT sum((nij * nij)::HUGEINT) AS s,
        |    count(DISTINCT it)::BIGINT AS n FROM cells),
        |pe AS (SELECT sum((cj * cj)::HUGEINT) AS sum_cj2
        |  FROM (SELECT cat, sum(nij)::BIGINT AS cj FROM cells GROUP BY 1)),
        |k AS (SELECT stats.n AS n_items,
        |    (stats.s::DOUBLE - (stats.n * 3)::DOUBLE)
        |      / (stats.n * 3 * 2)::DOUBLE AS pbar,
        |    pe.sum_cj2::DOUBLE
        |      / ((stats.n * 3)::DOUBLE * (stats.n * 3)::DOUBLE) AS pe
        |  FROM stats, pe)
        |SELECT n_items,
        |  floor(pbar * 1000000 + 0.5) / 1000000 AS pbar6,
        |  floor(pe * 1000000 + 0.5) / 1000000 AS pe6,
        |  CASE WHEN pe = 1.0 THEN 0.0
        |       ELSE floor((pbar - pe) / (1.0 - pe) * 1000000 + 0.5) / 1000000
        |  END AS kappa6
        |FROM k""".stripMargin),

    // pass@k (HumanEval estimator) over a deterministic eval fixture:
    // events are samples, user_id%50 the task, every 19th event_id a
    // "correct" sample (~5% → pass@5 ≈ 0.23, away from both saturation
    // ends). The product form Π(n-c-i)/(n-i) is the same left-assoc
    // IEEE chain in both engines — exact to the 6-dp floor
    ("a19_pass_at_k",
      (s, sf) => graft.ops.Profile.passAtK(
        table(s, sf, "events"), col("user_id") % 50, col("event_id") % 19 === 0, k = 5),
      passAtKOracleSql(5)),

    // Poisson bootstrap CI for the mean order value — the bootstrap
    // that scales: per-row hash-derived Poisson(1) multiplicities, B
    // partial sums map-side combined (no global multinomial, no
    // data-sized shuffle). Multiplicities are inverse-CDF on a 52-bit
    // md5 uniform vs hardcoded thresholds; resample sums are exact
    // decimals; CI bounds are exact rank statistics — all restated by
    // the oracle bit-for-bit.
    ("a23_poisson_bootstrap",
      (s, sf) => graft.ops.Profile.poissonBootstrapCi(
        table(s, sf, "orders"),
        col("o_totalprice"), col("o_orderkey"), b = 200, salt = "pb1"),
      """WITH base AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    o_orderkey::VARCHAR AS id FROM orders),
        |e AS (SELECT v, b,
        |    ('0x' || substr(md5('pb1:' || b::VARCHAR || ':' || id), 1, 13))::BIGINT::DOUBLE
        |      / 4503599627370496.0 AS u
        |  FROM base, range(0, 200) t(b)),
        |mu AS (SELECT v, b, CASE
        |    WHEN u < 0.36787944117144233::DOUBLE THEN 0
        |    WHEN u < 0.7357588823428847::DOUBLE THEN 1
        |    WHEN u < 0.9196986029286058::DOUBLE THEN 2
        |    WHEN u < 0.981011843123846::DOUBLE THEN 3
        |    WHEN u < 0.9963401531726563::DOUBLE THEN 4
        |    WHEN u < 0.9994058151824183::DOUBLE THEN 5
        |    WHEN u < 0.9999167588507119::DOUBLE THEN 6
        |    WHEN u < 0.9999897508033253::DOUBLE THEN 7
        |    WHEN u < 0.9999988805746001::DOUBLE THEN 8
        |    ELSE 9 END AS m FROM e),
        |rm AS (SELECT b, floor(CAST(SUM(v * m) AS DOUBLE)
        |    / CAST(SUM(m) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean6
        |  FROM mu GROUP BY b),
        |rk AS (SELECT mean6, b, row_number() OVER (ORDER BY mean6 ASC, b ASC) AS r
        |  FROM rm),
        |f AS (SELECT floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS mean_full6 FROM orders)
        |SELECT 200::BIGINT AS b, mean_full6,
        |  (SELECT mean6 FROM rk WHERE r = 5) AS lo6,
        |  (SELECT mean6 FROM rk WHERE r = 196) AS hi6
        |FROM f""".stripMargin),

    // Poisson-bootstrap CI for an A/B LIFT (difference of arm means):
    // both arms resampled per rep off the same hash stream, lift
    // distribution = B per-rep mean differences — a23's machinery,
    // the experiment-readout form
    ("a24_poisson_bootstrap_ab",
      (s, sf) => graft.ops.Profile.poissonBootstrapAbCi(
        table(s, sf, "orders"), col("o_totalprice"),
        col("o_orderkey"), col("o_orderkey") % 2 === 0, b = 200,
        salt = "pab1"),
      """WITH base AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    o_orderkey::VARCHAR AS id, (o_orderkey % 2 = 0) AS t FROM orders),
        |e AS (SELECT v, t, b,
        |    ('0x' || substr(md5('pab1:' || b::VARCHAR || ':' || id), 1, 13))::BIGINT::DOUBLE
        |      / 4503599627370496.0 AS u
        |  FROM base, range(0, 200) tt(b)),
        |mu AS (SELECT v, t, b, CASE
        |    WHEN u < 0.36787944117144233::DOUBLE THEN 0
        |    WHEN u < 0.7357588823428847::DOUBLE THEN 1
        |    WHEN u < 0.9196986029286058::DOUBLE THEN 2
        |    WHEN u < 0.981011843123846::DOUBLE THEN 3
        |    WHEN u < 0.9963401531726563::DOUBLE THEN 4
        |    WHEN u < 0.9994058151824183::DOUBLE THEN 5
        |    WHEN u < 0.9999167588507119::DOUBLE THEN 6
        |    WHEN u < 0.9999897508033253::DOUBLE THEN 7
        |    WHEN u < 0.9999988805746001::DOUBLE THEN 8
        |    ELSE 9 END AS m FROM e),
        |rm AS (SELECT b, floor((
        |    floor(CAST(SUM(CASE WHEN t THEN v * m END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN t THEN m ELSE 0 END) AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    - floor(CAST(SUM(CASE WHEN NOT t THEN v * m END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN NOT t THEN m ELSE 0 END) AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    ) * 1e6 + 0.5) / 1e6 AS diff6
        |  FROM mu GROUP BY b),
        |rk AS (SELECT diff6, b, row_number() OVER (ORDER BY diff6 ASC, b ASC) AS r
        |  FROM rm),
        |f AS (SELECT floor((
        |    floor(CAST(SUM(CASE WHEN t THEN v END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    - floor(CAST(SUM(CASE WHEN NOT t THEN v END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    ) * 1e6 + 0.5) / 1e6 AS lift_full6 FROM base)
        |SELECT 200::BIGINT AS b, lift_full6,
        |  (SELECT diff6 FROM rk WHERE r = 5) AS lo6,
        |  (SELECT diff6 FROM rk WHERE r = 196) AS hi6
        |FROM f""".stripMargin),

    // split-conformal filtering thresholds per language (Mondrian
    // conformal): k = ceil((n+1)(1-alpha))-th smallest doc length — the
    // finite-sample-corrected quantile with the >=90% coverage
    // guarantee. Exact order statistic from the distinct-score count
    // table (a16's rank discipline — no row-sized sort)
    ("a21_conformal_threshold",
      (s, sf) => graft.ops.Profile.conformalThreshold(
        table(s, sf, "documents"), col("lang"), col("n_chars"), alpha = 0.1),
      """WITH b AS (SELECT lang AS grp, n_chars::DOUBLE AS s FROM documents),
        |g AS (SELECT grp, s, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
        |r AS (SELECT grp, s, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n FROM g),
        |k AS (SELECT grp, s, cum, n,
        |    CAST(ceil((n + 1)::DOUBLE * 0.9) AS BIGINT) AS k FROM r)
        |SELECT grp, n::BIGINT AS n, k,
        |  CASE WHEN k <= n THEN min(CASE WHEN cum >= k THEN s END) END AS qhat
        |FROM k GROUP BY grp, n, k""".stripMargin),

    // Bradley-Terry strengths over a deterministic pairwise-preference
    // fixture: models = user_id%5 vs (user_id*3+1)%5, "a wins" iff
    // event_id%10 < 6+(a-b) — win rates 0.2..1.0 so the fitted thetas
    // spread. 6 quantized MM rounds; the oracle unrolls every round
    // with the identical floor8/decimal-sum arithmetic
    ("a20_bradley_terry",
      (s, sf) => graft.ops.Profile.bradleyTerry(table(s, sf, "events"),
        col("user_id") % 5, (col("user_id") * 3 + 1) % 5,
        col("event_id") % 10 <
          lit(6) + (col("user_id") % 5) - ((col("user_id") * 3 + 1) % 5)),
      bradleyTerryOracleSql(6)),

    ("a16_auc",
      (s, sf) => graft.ops.Profile.aucScore(table(s, sf, "documents"),
        col("n_chars").cast("double"), col("doc_id") % 3 === 0),
      """WITH b AS (SELECT n_chars::DOUBLE AS s, (doc_id % 3 = 0) AS y
        |  FROM documents),
        |g AS (SELECT s, count(*)::BIGINT AS c,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p FROM b GROUP BY 1),
        |r AS (SELECT c, p,
        |    coalesce(sum(c) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS minr
        |  FROM g),
        |a AS (SELECT sum(p * (minr * 2 + c - 1))::BIGINT AS s2,
        |    sum(p)::BIGINT AS n_pos, sum(c - p)::BIGINT AS n_neg FROM r)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    floor((s2::DOUBLE / 2 - n_pos::DOUBLE * (n_pos + 1) / 2)
        |      / (n_pos::DOUBLE * n_neg::DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS auc6
        |FROM a""".stripMargin),

    // key-skew profile (pre-join salting diagnostic): top-10 heaviest
    // event types with exact shares; ranks over DISTINCT keys
    ("j02_skew_profile",
      (s, sf) => graft.ops.Profile.keySkewProfile(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("event_type"), k = 10),
      """WITH c AS (SELECT event_type::VARCHAR AS key, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS total FROM c),
        |r AS (SELECT key, n,
        |    row_number() OVER (ORDER BY n DESC, key ASC) AS rank,
        |    sum(n) OVER (ORDER BY n DESC, key ASC)::BIGINT AS cum FROM c)
        |SELECT rank::INT AS rank, key, n,
        |  floor(n::DOUBLE / (SELECT total FROM t) * 1000000 + 0.5) / 1000000
        |    AS share6,
        |  floor(cum::DOUBLE / (SELECT total FROM t) * 1000000 + 0.5) / 1000000
        |    AS cum_share6
        |FROM r WHERE rank <= 10""".stripMargin),

    // Gini of the user_id row distribution: exact integer weighted sum
    // (int128), one final division — the one-number skew summary
    ("j03_key_gini",
      (s, sf) => graft.ops.Profile.keyGini(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("user_id")),
      """WITH c AS (SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c ASC, key ASC)::BIGINT
        |    AS i FROM c),
        |m AS (SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
        |    sum(i * 2 * c) AS wsum FROM r)
        |SELECT n_keys, n_rows,
        |  floor((wsum::DOUBLE - (n_keys + 1)::DOUBLE * n_rows::DOUBLE)
        |    / (n_keys::DOUBLE * n_rows::DOUBLE) * 1000000 + 0.5) / 1000000
        |    AS gini6
        |FROM m""".stripMargin),

    // Spearman rank correlation: Pearson over DOUBLED midranks (exact
    // integers — 2*minrank + t - 1), moments DECIMAL-summed, ranks from
    // distinct-value windows; only the final products/sqrt/division are
    // float, identical IEEE chain both engines
    ("a18_spearman",
      (s, sf) => graft.ops.Profile.spearmanCorr(table(s, sf, "documents"),
        col("n_chars"), col("n_chars") % 997),
      """WITH b AS (SELECT n_chars::DOUBLE AS x, (n_chars % 997)::DOUBLE AS y
        |  FROM documents),
        |rx AS (SELECT x, (coalesce(sum(t) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1) * 2
        |      + t - 1 AS xr2
        |  FROM (SELECT x, count(*)::BIGINT AS t FROM b GROUP BY 1)),
        |ry AS (SELECT y, (coalesce(sum(t) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1) * 2
        |      + t - 1 AS yr2
        |  FROM (SELECT y, count(*)::BIGINT AS t FROM b GROUP BY 1)),
        |j AS (SELECT xr2, yr2 FROM b JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT count(*)::BIGINT AS n, sum(xr2) AS sx, sum(yr2) AS sy,
        |    sum(xr2 * yr2) AS sxy, sum(xr2 * xr2) AS sxx,
        |    sum(yr2 * yr2) AS syy FROM j),
        |v AS (SELECT n,
        |    n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS cov,
        |    n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS vx,
        |    n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS vy FROM m)
        |SELECT n, CASE WHEN vx > 0 AND vy > 0 THEN
        |    floor(cov / sqrt(vx * vy) * 1000000 + 0.5) / 1000000
        |  END AS spearman6
        |FROM v""".stripMargin),

    // calibration bins (reliability diagram): mean of 6-dp-quantized
    // scores vs exact positive rate per equal-width bin; 1.0 folds top
    ("a17_calibration",
      (s, sf) => graft.ops.Profile.calibrationBins(table(s, sf, "documents"),
        (col("n_chars") % 997).cast("double") / 997.0,
        col("doc_id") % 3 === 0, bins = 10),
      """WITH b AS (SELECT (n_chars % 997)::DOUBLE / 997.0 AS s,
        |    (doc_id % 3 = 0) AS y FROM documents),
        |d AS (SELECT least(floor(s * 10), 9)::INT AS bin,
        |    CAST(floor(s * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) AS s6, y
        |  FROM b)
        |SELECT bin, count(*)::BIGINT AS n,
        |  floor(CAST(sum(s6) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
        |    AS mean_score6,
        |  floor(sum(CASE WHEN y THEN 1 ELSE 0 END)::DOUBLE / count(*)
        |    * 1000000 + 0.5) / 1000000 AS frac_pos6
        |FROM d GROUP BY 1""".stripMargin),

    // user growth curve: cumulative-distinct-users as exact integers —
    // cum distinct ≡ cumsum of first-occurrence counts; one per-user
    // min, then span-bounded day table
    // Holt double exponential smoothing (level + trend) on the
    // densified daily grid: day collapse is the one distributed agg,
    // the sequential recursion folds over the span-bounded grid
    // driver-side; the oracle replays it as a recursive CTE with the
    // same 8-dp per-step floors and (1−α)/(1−β) spelled as
    // subtractions (literal 0.7 ≠ computed 1−0.3 in the last ulp)
    ("ts19_holt_linear",
      (s, sf) => graft.ops.EventAnalytics.holtLinearDaily(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("ts"),
        alpha = 0.3, beta = 0.1),
      """WITH RECURSIVE
        |daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series((SELECT d0 FROM span),
        |    (SELECT d1 FROM span), INTERVAL 1 DAY))::DATE AS day),
        |g AS (SELECT grid.day, coalesce(daily.v, 0)::BIGINT AS v,
        |    row_number() OVER (ORDER BY grid.day) - 1 AS i
        |  FROM grid LEFT JOIN daily USING (day)),
        |hw AS (
        |  SELECT i, day, v, v::DOUBLE AS l,
        |    floor(((SELECT v FROM g WHERE i = 1) - v)::DOUBLE * 1e8 + 0.5) / 1e8 AS b
        |  FROM g WHERE i = 0
        |  UNION ALL
        |  SELECT g.i, g.day, g.v,
        |    floor((0.3::DOUBLE * g.v::DOUBLE + (1 - 0.3::DOUBLE) * (hw.l + hw.b))
        |      * 1e8 + 0.5) / 1e8 AS l,
        |    floor((0.1::DOUBLE * (floor((0.3::DOUBLE * g.v::DOUBLE
        |        + (1 - 0.3::DOUBLE) * (hw.l + hw.b)) * 1e8 + 0.5) / 1e8 - hw.l)
        |      + (1 - 0.1::DOUBLE) * hw.b) * 1e8 + 0.5) / 1e8 AS b
        |  FROM hw JOIN g ON g.i = hw.i + 1)
        |SELECT day, v, l AS level8, b AS trend8 FROM hw""".stripMargin),

    // nearest as-of join with a 2 h tolerance (pandas merge_asof
    // direction='nearest'): exact microsecond distances, equal-distance
    // ties resolve backward; the oracle states the DEFINITION directly
    // (tolerance range join + distance rank), not the window algorithm
    ("ts22_asof_nearest",
      (s, sf) => {
        val ev = EventStreams.readEvents(s, s"$sf/events.parquet")
        val l = ev.filter(col("event_type") === "purchase")
          .select((col("user_id") % 25).as("k"), col("ts"), col("event_id"))
        val r = ev.filter(col("event_type") === "error")
          .select((col("user_id") % 25).as("k"), col("ts"),
            unix_micros(col("ts")).as("matched_us"), col("value").as("rval"))
        graft.ops.TemporalJoin.asofJoinNearest(l, r, "k", "ts",
          Seq("matched_us", "rval"), toleranceMicros = 7200000000L)
          .select(col("event_id"), col("k"), col("matched_us"), col("rval"))
      },
      """WITH l AS (SELECT user_id % 25 AS k, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT user_id % 25 AS k, ts AS rts, value FROM events
        |  WHERE event_type = 'error'),
        |j AS (SELECT l.event_id, r.rts, r.value,
        |    abs(epoch_us(l.ts) - epoch_us(r.rts)) AS d,
        |    CASE WHEN epoch_us(r.rts) <= epoch_us(l.ts) THEN 0 ELSE 1 END AS fwd
        |  FROM l JOIN r ON l.k = r.k
        |    AND abs(epoch_us(l.ts) - epoch_us(r.rts)) <= 7200000000),
        |best AS (SELECT event_id, rts, value,
        |    row_number() OVER (PARTITION BY event_id ORDER BY d, fwd) AS rn
        |  FROM j)
        |SELECT l.event_id, l.k, epoch_us(b.rts)::BIGINT AS matched_us,
        |  b.value AS rval
        |FROM l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id)""".stripMargin),

    // the hot-key nearest variant ((key, day-slice) windows + two-sided
    // carry — the escape hatch the base nearest doc routes to): HALF of
    // all users collapse onto key 0 (the skew that would serialize the
    // base per-key window into one task), right rows pre-aggregated to
    // unique (k, ts) so both formulations are deterministic; oracle is
    // the same DEFINITION-stating DuckDB plan as ts22 (tolerance range
    // join + distance rank, ties backward)
    ("ts23_asof_nearest_sliced",
      (s, sf) => {
        val ev = EventStreams.readEvents(s, s"$sf/events.parquet")
        def hotKey = when(col("user_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id") % 25 + 1)
        val l = ev.filter(col("event_type") === "purchase")
          .select(hotKey.as("k"), col("ts"), col("event_id"))
        val r = ev.filter(col("event_type") === "error")
          .groupBy(hotKey.as("k"), col("ts"))
          .agg(min(col("value")).as("rval"))
          .select(col("k"), col("ts"),
            unix_micros(col("ts")).as("matched_us"), col("rval"))
        graft.ops.TemporalJoin.asofJoinNearestSliced(l, r, "k", "ts",
          Seq("matched_us", "rval"), toleranceMicros = 7200000000L,
          sliceOf = c => floor(unix_micros(c) / lit(86400L * 1000000L)))
          .select(col("event_id"), col("k"), col("matched_us"), col("rval"))
      },
      """WITH l AS (SELECT CASE WHEN user_id % 2 = 0 THEN 0
        |      ELSE user_id % 25 + 1 END AS k, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT CASE WHEN user_id % 2 = 0 THEN 0
        |      ELSE user_id % 25 + 1 END AS k, ts AS rts,
        |      min(value) AS rval FROM events
        |  WHERE event_type = 'error' GROUP BY 1, 2),
        |j AS (SELECT l.event_id, r.rts, r.rval,
        |    abs(epoch_us(l.ts) - epoch_us(r.rts)) AS d,
        |    CASE WHEN epoch_us(r.rts) <= epoch_us(l.ts) THEN 0 ELSE 1 END AS fwd
        |  FROM l JOIN r ON l.k = r.k
        |    AND abs(epoch_us(l.ts) - epoch_us(r.rts)) <= 7200000000),
        |best AS (SELECT event_id, rts, rval,
        |    row_number() OVER (PARTITION BY event_id ORDER BY d, fwd) AS rn
        |  FROM j)
        |SELECT l.event_id, l.k, epoch_us(b.rts)::BIGINT AS matched_us,
        |  b.rval
        |FROM l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id)""".stripMargin),

    // Holt-Winters additive weekly smoothing: ts19 plus the seasonal
    // recurrence; textbook two-week init, every state 8-dp floored per
    // step, oracle's recursive CTE carries the rolling 7-slot seasonal
    // list and re-derives level/trend/seasonal/forecast exactly
    ("ts21_holt_winters",
      (s, sf) => graft.ops.EventAnalytics.holtWintersDaily(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("ts"),
        alpha = 0.3, beta = 0.1, gamma = 0.2),
      """WITH RECURSIVE
        |daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS v FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series((SELECT d0 FROM span),
        |    (SELECT d1 FROM span), INTERVAL 1 DAY))::DATE AS day),
        |g AS (SELECT grid.day, coalesce(daily.v, 0)::BIGINT AS v,
        |    row_number() OVER (ORDER BY grid.day) - 1 AS i
        |  FROM grid LEFT JOIN daily USING (day)),
        |init AS (SELECT
        |    floor((SELECT sum(v) FROM g WHERE i < 7)::DOUBLE / 7.0
        |      * 1e8 + 0.5) / 1e8 AS l0,
        |    floor(((SELECT sum(v) FROM g WHERE i BETWEEN 7 AND 13)::DOUBLE / 7.0
        |        - (SELECT sum(v) FROM g WHERE i < 7)::DOUBLE / 7.0) / 7.0
        |      * 1e8 + 0.5) / 1e8 AS b0),
        |s0 AS (SELECT list(floor((v - (SELECT l0 FROM init)) * 1e8 + 0.5) / 1e8
        |    ORDER BY i) AS s FROM g WHERE i < 7),
        |hw(i, day, v, l, b, seas, f) AS (
        |  SELECT 6::BIGINT, g.day, g.v, (SELECT l0 FROM init),
        |    (SELECT b0 FROM init), (SELECT s FROM s0), NULL::DOUBLE
        |  FROM g WHERE i = 6
        |  UNION ALL
        |  SELECT i, day, v, lnew,
        |    floor((0.1::DOUBLE * (lnew - l) + (1 - 0.1::DOUBLE) * b)
        |      * 1e8 + 0.5) / 1e8,
        |    list_append(seas[2:7],
        |      floor((0.2::DOUBLE * (v - lnew) + (1 - 0.2::DOUBLE) * sold)
        |        * 1e8 + 0.5) / 1e8),
        |    floor((l + b + sold) * 1e8 + 0.5) / 1e8
        |  FROM (SELECT g.i AS i, g.day AS day, g.v AS v, hw.l AS l, hw.b AS b,
        |      hw.seas AS seas, hw.seas[1] AS sold,
        |      floor((0.3::DOUBLE * (g.v - hw.seas[1])
        |          + (1 - 0.3::DOUBLE) * (hw.l + hw.b)) * 1e8 + 0.5) / 1e8 AS lnew
        |    FROM hw JOIN g ON g.i = hw.i + 1))
        |SELECT day, v, l AS level8, b AS trend8, seas[7] AS seasonal8,
        |  f AS forecast8
        |FROM hw WHERE i >= 7""".stripMargin),

    ("ts18_growth_curve",
      (s, sf) => graft.ops.EventAnalytics.userGrowthCurve(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("ts")),
      """WITH f AS (SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY 1),
        |n AS (SELECT day, count(*)::BIGINT AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  sum(new_users) OVER (ORDER BY day)::BIGINT AS cum_users
        |FROM n""".stripMargin),

    // ---- dataset profiling -----------------------------------------------
    // ANALYZE TABLE in one scan: all measures for all three columns in a
    // single aggregate (multi-distinct via Expand), reshaped result-side
    // to one row per column; the double column is canonicalized to
    // DECIMAL(18,2) so min/max stringify identically on both engines
    ("a07_profile",
      (s, sf) => graft.ops.Profile.profile(
        table(s, sf, "orders"),
        Seq(
          "o_custkey" -> col("o_custkey"),
          "o_orderpriority" -> col("o_orderpriority"),
          "o_totalprice" -> col("o_totalprice")
            .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)))),
      """SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        |  count(*) - count(o_custkey) AS n_null,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  min(o_custkey)::VARCHAR AS min_s, max(o_custkey)::VARCHAR AS max_s
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice::DECIMAL(18,2)),
        |  min(o_totalprice::DECIMAL(18,2))::VARCHAR,
        |  max(o_totalprice::DECIMAL(18,2))::VARCHAR
        |FROM orders""".stripMargin),

    // edit-distance-1 term pairs via deletion-neighborhood blocking
    // (FastSS): typos PLANTED on every 6th doc pair up with their clean
    // forms through shared deletion keys — cost ∝ Σ term length, never
    // vocab² — then exact levenshtein verifies. The oracle brutes the
    // full vocab² levenshtein relation, so a missed or phantom pair
    // cannot pass
    ("t29_typo_pairs",
      (s, sf) => Dedup.typoPairs(
        table(s, sf, "documents").select(concat(col("text"), when(col("doc_id") % 6 === 0,
            lit(" joiin haash roww")).otherwise(lit(""))).as("t"))
          .select(explode(TextOps.tokens(col("t"))).as("term")),
        col("term")),
      """WITH v AS (SELECT DISTINCT t FROM (
        |    SELECT unnest(string_split_regex(lower(trim(tx)),'\s+')) AS t
        |    FROM (SELECT text || CASE WHEN doc_id % 6 = 0
        |        THEN ' joiin haash roww' ELSE '' END AS tx FROM documents)
        |    WHERE trim(tx) <> ''))
        |SELECT a.t AS term_a, b.t AS term_b
        |FROM v a JOIN v b ON a.t < b.t
        |WHERE levenshtein(a.t, b.t) <= 1""".stripMargin),

    // ---- BPE merge learning ----------------------------------------------
    // tokenizer training where the corpus lives: 6 greedy merges over the
    // distinct-word frequency table (Sennrich et al. 2016), ties broken by
    // (count DESC, pair ASC) so the sequence is a pure function of the
    // corpus. The oracle re-derives EVERY merge independently: k unrolled
    // CTE stages, each computing the argmax pair and applying the merge
    // with a boundary-preserving double-space string replace whose
    // left-to-right non-overlapping semantics equal BPE's greedy fold
    ("t25_bpe_merges",
      (s, sf) => graft.ops.Bpe.learnMerges(table(s, sf, "documents"), col("text"), numMerges = 6),
      bpeOracleSql(6)),

    // WordPiece variant: the SAME greedy loop ranked by the likelihood
    // score pc/(c_l·c_r) — integer-quantized so the argmax is
    // bit-identical cross-engine. Completes the tokenizer-training
    // trio (BPE t25/t27, unigram-LM t40–t42, WordPiece here)
    ("t48_wordpiece_merges",
      (s, sf) => graft.ops.Bpe.learnWordPieceMerges(table(s, sf, "documents"), col("text"),
        numMerges = 6),
      wordPieceOracleSql(6)),

    // ...and the tokenizer APPLIED corpus-wide: encode every document
    // with the learned 6-merge table (the collected merge list replays
    // as a scan-stage fold chain) and count subwords per doc. The oracle
    // reuses the merge-stage derivation — its final CTE holds every
    // distinct word's fully merged form — and joins word instances back
    // per document, so a drifted merge order or a wrong greedy fold
    // breaks thousands of per-doc counts
    ("t27_bpe_encode",
      (s, sf) => {
        val merges = graft.ops.Bpe.learnMerges(table(s, sf, "documents"), col("text"), numMerges = 6)
        graft.ops.Bpe.encode(table(s, sf, "documents"), col("text"), merges)
          .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("n_bpe"))
      },
      bpeEncodeOracleSql(6)),

    // suffix-stripping stemmer (Porter-lite): stems that consolidate ≥2
    // distinct surface terms, with term and instance counts — the
    // vocabulary-consolidation report retrieval/drift statistics run on.
    // Suffix variants are PLANTED on every 4th doc (t24's pattern — the
    // fixture vocabulary is singular-only, so unplanted nothing would
    // consolidate); both engines apply the identical anchored-regex chain
    ("t28_stem_groups",
      (s, sf) => table(s, sf, "documents")
        .select(concat(col("text"), when(col("doc_id") % 4 === 0,
          lit(" joins rows filtering filtered tables scans")).otherwise(lit("")))
          .as("t"))
        .select(explode(TextOps.tokens(col("t"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .select(TextOps.stemLite(col("term")).as("stem"), col("term"), col("cnt"))
        .groupBy(col("stem"))
        .agg(countDistinct(col("term")).as("n_terms"),
          sum(col("cnt")).as("n_instances"), min(col("term")).as("first_term"))
        .filter(col("n_terms") >= 2),
      """WITH tc AS (SELECT t AS term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(tx)),'\s+')) AS t
        |    FROM (SELECT text || CASE WHEN doc_id % 4 = 0
        |        THEN ' joins rows filtering filtered tables scans' ELSE '' END AS tx
        |      FROM documents)
        |    WHERE trim(tx) <> '') GROUP BY 1),
        |st AS (SELECT regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(term, 'sses$', 'ss'),
        |        'ies$', 'i'),
        |      '([^s])s$', '\1'),
        |    '([a-z]{3,})ing$', '\1'),
        |  '([a-z]{3,})ed$', '\1') AS stem, term, cnt FROM tc)
        |SELECT stem, count(DISTINCT term) AS n_terms,
        |  sum(cnt)::BIGINT AS n_instances, min(term) AS first_term
        |FROM st GROUP BY stem HAVING count(DISTINCT term) >= 2""".stripMargin),

    // ---- n-gram LM counts ------------------------------------------------
    // corpus-wide bigram INSTANCE counts with minimum support — the KenLM
    // first-pass table; instances, not per-doc-distinct shingles
    ("t23_ngram_counts",
      (s, sf) => TextOps.ngramCounts(table(s, sf, "documents"), col("text"), n = 2,
        minCount = 25),
      """SELECT g AS ngram, count(*) AS cnt FROM (
        |  SELECT unnest([ toks[i] || ' ' || toks[i+1]
        |      FOR i IN range(1, greatest(len(toks), 2)) ]) AS g
        |  FROM (SELECT string_split_regex(lower(trim(text)),'\s+') AS toks
        |        FROM documents WHERE trim(text) <> ''))
        |GROUP BY g HAVING count(*) >= 25""".stripMargin),

    // ---- shingle containment (quote/excerpt detection) ------------------
    // asymmetric |A∩B|/min(|A|,|B|): a planted 12-token excerpt of every
    // doc_id%13==0 document has containment 1.0 against its source while
    // its Jaccard is ~0.03 — the relation the jaccard gates miss
    ("d20_containment",
      (s, sf) => {
        val base = table(s, sf, "documents").select(col("doc_id"), col("text"))
        val excerpts = base.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 12)).as("text"))
        Dedup.containmentPairs(base.unionByName(excerpts), col("doc_id"),
          col("text"), n = 3, threshold = 0.9)
      },
      """WITH base AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string(string_split_regex(lower(trim(text)),'\s+')[1:12], ' ')
        |  FROM documents WHERE doc_id % 13 = 0),
        |sh AS (SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |    FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM base))
        |SELECT id_a, id_b, n_shared, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.ws, b.ws)) AS n_shared,
        |    floor(len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / least(len(a.ws), len(b.ws)) * 10000 + 0.5) / 10000 AS containment
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE containment >= 0.9""".stripMargin),

    // ---- semantic (embedding-space) decontamination ---------------------
    // corpus split 10/1 into train/eval on vec_id % 11; train vectors
    // whose max cosine against the eval matrix reaches 0.35 are flagged
    // with their nearest eval id — one codegen'd TopClusters scan (the
    // eval matrix is a plan literal; no corpus shuffle), DuckDB
    // re-derives the argmax + threshold from the full cross product
    ("d19_semantic_decontam",
      (s, sf) => {
        val all = table(s, sf, "embeddings")
        Dedup.semanticDecontam(
            all.filter(col("vec_id") % 11 =!= 0), col("vec_id"), col("embedding"),
            all.filter(col("vec_id") % 11 === 0), col("vec_id"), col("embedding"),
            threshold = 0.35)
          .select(col("vec_id"), col("eval_id"),
            round(col("cosine"), 3).as("cos3"))
      },
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 = 0),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 <> 0),
        |m AS (SELECT c.vec_id, e.vec_id AS eval_id,
        |    list_cosine_similarity(c.embedding, e.embedding) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, e.embedding) DESC,
        |               e.vec_id ASC) AS rn
        |  FROM c CROSS JOIN e)
        |SELECT vec_id, eval_id, ROUND(cos, 3) AS cos3
        |FROM m WHERE rn = 1 AND cos >= 0.35""".stripMargin),

    // ---- fixed-context sequence packing ---------------------------------
    // the LLM pretraining layout: docs concatenated in doc_id order, cut
    // into 256-token examples, docs SPLITTING across window boundaries;
    // each row is one fragment with its in-doc span and in-example offset
    ("p08_pack_sequences",
      (s, sf) => Pipeline.packFixedWindows(table(s, sf, "documents"), col("doc_id"),
        TextOps.tokenCount(col("text")), contextLen = 256, bucketWidth = 64),
      """WITH t AS (SELECT doc_id, ntok,
        |    CAST(SUM(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ntok
        |         AS BIGINT) AS gstart
        |  FROM (SELECT doc_id, CASE WHEN trim(text)='' THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |        FROM documents)),
        |f AS (SELECT doc_id, ntok, gstart,
        |    unnest(generate_series(gstart // 256, (gstart + ntok - 1) // 256)) AS example_id
        |  FROM t WHERE ntok > 0)
        |SELECT doc_id, example_id,
        |  greatest(0, example_id * 256 - gstart) AS start_tok,
        |  least(ntok, (example_id + 1) * 256 - gstart) AS end_tok,
        |  greatest(0, gstart - example_id * 256) AS off_in_ex
        |FROM f""".stripMargin),

    // ---- personalized PageRank ------------------------------------------
    // teleport restricted to a 3-part seed set over the same part→supp→
    // nation graph as g01: rank becomes proximity-to-seeds (seed-list
    // expansion); nodes unreachable from every seed rank exactly 0. The
    // oracle replicates the teleport arithmetic op-for-op ((1.0-0.85)/3
    // in IEEE order) and rounds 8-dp BEFORE the top-20, like g01.
    ("g03_ppr_seeds",
      (s, sf) => {
        val ps = table(s, sf, "lineitem")
          .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
        val sn = table(s, sf, "supplier")
          .select((col("s_suppkey") + 1000000L).as("src"), (col("s_nationkey") + 2000000L).as("dst"))
        graft.ops.Graph.pageRank(ps.unionByName(sn), col("src"), col("dst"),
            iterations = 3, seeds = Seq(1L, 2L, 3L))
          .select(col("node"), (floor(col("rank") * 100000000.0 + 0.5) / 100000000.0).as("rank"))
          .filter(col("rank") > 0)
          .orderBy(col("rank").desc, col("node").asc).limit(20)
      },
      """WITH e AS (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |  UNION
        |  SELECT s_suppkey + 1000000, s_nationkey + 2000000 FROM supplier),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CASE WHEN node IN (1,2,3)
        |       THEN 1.0/CAST(3 AS DOUBLE) ELSE 0.0 END AS rank FROM nodes),
        |r1 AS (SELECT nodes.node, CASE WHEN nodes.node IN (1,2,3)
        |         THEN (1.0-0.85)/CAST(3 AS DOUBLE) ELSE 0.0 END
        |         + 0.85*coalesce(c.contrib, 0) AS rank
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank/od.outdeg) AS contrib
        |         FROM e JOIN od ON e.src=od.src JOIN r0 r ON r.node=e.src
        |         GROUP BY e.dst) c ON nodes.node=c.node),
        |r2 AS (SELECT nodes.node, CASE WHEN nodes.node IN (1,2,3)
        |         THEN (1.0-0.85)/CAST(3 AS DOUBLE) ELSE 0.0 END
        |         + 0.85*coalesce(c.contrib, 0) AS rank
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank/od.outdeg) AS contrib
        |         FROM e JOIN od ON e.src=od.src JOIN r1 r ON r.node=e.src
        |         GROUP BY e.dst) c ON nodes.node=c.node),
        |r3 AS (SELECT nodes.node, CASE WHEN nodes.node IN (1,2,3)
        |         THEN (1.0-0.85)/CAST(3 AS DOUBLE) ELSE 0.0 END
        |         + 0.85*coalesce(c.contrib, 0) AS rank
        |       FROM nodes LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank/od.outdeg) AS contrib
        |         FROM e JOIN od ON e.src=od.src JOIN r2 r ON r.node=e.src
        |         GROUP BY e.dst) c ON nodes.node=c.node)
        |SELECT node, rank FROM (
        |  SELECT node, floor(rank*100000000 + 0.5)/100000000 AS rank FROM r3)
        |WHERE rank > 0 ORDER BY 2 DESC, node LIMIT 20""".stripMargin),

    // item co-occurrence ("frequently bought together"): part pairs
    // sharing ≥2 orders, from the (order, part) bipartite relation. The
    // in-group pair explosion is capped per group before the self-join
    // (the containment-cap discipline — a viral group dominates the pair
    // space with the least signal per pair); DuckDB restates the exact
    // self-join + HAVING
    ("g04_copurchase_pairs",
      (s, sf) => graft.ops.Graph.coOccurrencePairs(
        table(s, sf, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minShared = 2),
      """WITH e AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem)
        |SELECT a.i AS i_a, b.i AS i_b, count(*) AS n_shared
        |FROM e a JOIN e b ON a.g = b.g AND a.i < b.i
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // degree distribution of the layered g01 link graph: the first
    // diagnostic on any graph input (tail shape, hub detection); the
    // histogram is count-of-counts so the result is max-degree-bounded
    ("g05_degree_histogram",
      (s, sf) => {
        val ps = table(s, sf, "lineitem")
          .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
        val sn = table(s, sf, "supplier")
          .select((col("s_suppkey") + 1000000L).as("src"), (col("s_nationkey") + 2000000L).as("dst"))
        graft.ops.Graph.degreeHistogram(ps.unionByName(sn), col("src"), col("dst"))
      },
      """WITH e AS (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |  UNION
        |  SELECT s_suppkey + 1000000, s_nationkey + 2000000 FROM supplier),
        |o AS (SELECT src AS node, count(*) AS od FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, count(*) AS idg FROM e GROUP BY 1),
        |d AS (SELECT coalesce(o.od, 0) AS out_deg, coalesce(i.idg, 0) AS in_deg
        |      FROM o FULL OUTER JOIN i ON o.node = i.node)
        |SELECT out_deg, in_deg, count(*) AS n_nodes FROM d GROUP BY 1, 2""".stripMargin),

    // bounded-hop BFS over the 4-layer part→supplier→nation→region graph:
    // hop-0 seeds, frontier-only joins per round; DuckDB restates it as
    // k unrolled visited-excluding CTE steps
    ("g06_khop_distance",
      (s, sf) => {
        val ps = table(s, sf, "lineitem")
          .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
        val sn = table(s, sf, "supplier")
          .select((col("s_suppkey") + 1000000L).as("src"), (col("s_nationkey") + 2000000L).as("dst"))
        val nr = table(s, sf, "nation")
          .select((col("n_nationkey") + 2000000L).as("src"), (col("n_regionkey") + 3000000L).as("dst"))
        graft.ops.Graph.kHopDistance(ps.unionByName(sn).unionByName(nr),
          col("src"), col("dst"), seeds = Seq(1L, 2L, 3L), maxHops = 3)
      },
      """WITH e AS (
        |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        |  UNION
        |  SELECT s_suppkey + 1000000, s_nationkey + 2000000 FROM supplier
        |  UNION
        |  SELECT n_nationkey + 2000000, n_regionkey + 3000000 FROM nation),
        |h0 AS (SELECT unnest([1, 2, 3])::BIGINT AS node, 0 AS hops),
        |h1 AS (SELECT DISTINCT e.dst AS node, 1 AS hops FROM e JOIN h0 ON e.src = h0.node
        |       WHERE e.dst NOT IN (SELECT node FROM h0)),
        |h2 AS (SELECT DISTINCT e.dst AS node, 2 AS hops FROM e JOIN h1 ON e.src = h1.node
        |       WHERE e.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1)),
        |h3 AS (SELECT DISTINCT e.dst AS node, 3 AS hops FROM e JOIN h2 ON e.src = h2.node
        |       WHERE e.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1
        |                           UNION ALL SELECT node FROM h2))
        |SELECT node, hops FROM h0 UNION ALL SELECT * FROM h1
        |UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3""".stripMargin),

    // popularity-corrected co-purchase: cosine over the g04 pair table —
    // the "also bought" score that doesn't just surface bestsellers
    ("g07_item_cosine",
      (s, sf) => graft.ops.Graph.itemCosine(
        table(s, sf, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minShared = 2),
      """WITH e AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |f AS (SELECT i, count(*) AS nf FROM e GROUP BY 1),
        |p AS (SELECT a.i AS i_a, b.i AS i_b, count(*) AS n_shared
        |      FROM e a JOIN e b ON a.g = b.g AND a.i < b.i
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT i_a, i_b, n_shared,
        |  floor(n_shared / sqrt(fa.nf * fb.nf) * 10000 + 0.5) / 10000 AS cosine
        |FROM p JOIN f fa ON p.i_a = fa.i JOIN f fb ON p.i_b = fb.i""".stripMargin),

    // Adamic-Adar link prediction on the co-purchase incidence list:
    // shared small orders score high, hub orders low; per-group 1/ln(sz)
    // rounded 6dp then decimal-summed per pair (order-independent)
    ("g08_adamic_adar",
      (s, sf) => graft.ops.Graph.adamicAdar(
        table(s, sf, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minShared = 2),
      """WITH e AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |gw AS (SELECT g, floor(1.0 / ln(sz) * 1000000 + 0.5) / 1000000 AS w6
        |  FROM (SELECT g, count(*) AS sz FROM e GROUP BY g)
        |  WHERE sz BETWEEN 2 AND 10000),
        |c AS (SELECT e.g, e.i, w6 FROM e JOIN gw USING (g)),
        |p AS (SELECT a.i AS i_a, b.i AS i_b, count(*) AS n_shared,
        |    sum(a.w6::DECIMAL(28,6)) AS aa
        |  FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT i_a, i_b, n_shared, aa::DOUBLE AS aa6 FROM p""".stripMargin),

    // local clustering coefficient on the g02 graph: community strength
    // vs hub-ness per node; 2·tri/(deg·(deg−1)), deg<2 → 0
    ("g09_clustering_coeff",
      (s, sf) => {
        val li = table(s, sf, "lineitem")
          .filter(col("l_partkey") % 3 === 0)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.select(col("ok"), col("pk").as("p1"))
          .join(li.select(col("ok"), col("pk").as("p2")), "ok")
          .filter(col("p1") < col("p2"))
        graft.ops.Graph.clusteringCoefficient(pairs, col("p1"), col("p2"))
      },
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |    AND a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tc AS (SELECT node, count(*) AS n_tri
        |  FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
        |SELECT d.node, d.deg, coalesce(tc.n_tri, 0)::BIGINT AS n_tri,
        |  CASE WHEN d.deg < 2 THEN 0.0
        |       ELSE floor(2.0 * coalesce(tc.n_tri, 0)::DOUBLE
        |         / (d.deg::DOUBLE * (d.deg::DOUBLE - 1.0)) * 1000000 + 0.5)
        |         / 1000000
        |  END AS cc6
        |FROM deg d LEFT JOIN tc USING (node)""".stripMargin),

    // k-core by iterative peel (Seidman): a %17 slice of the part-
    // supplier graph cascades for 3 peel rounds at k=4 before the
    // fixpoint — a plain degree filter provably gives the WRONG answer
    // here; the oracle unrolls 8 idempotent peels (see kcorePeelSql)
    ("g10_kcore",
      (s, sf) => {
        val e = table(s, sf, "lineitem")
          .filter(col("l_orderkey") % 17 === 0)
          .select(col("l_partkey").as("src"),
            (col("l_suppkey") + 1000000L).as("dst"))
        graft.ops.Graph.kCore(e, col("src"), col("dst"), k = 4)
      },
      kcorePeelSql(k = 4, rounds = 8)),

    // record linkage: prefix-blocked Jaro-Winkler pairs over the DISTINCT
    // part-name domain — the native codegen'd scorer
    // (graft.functions.JaroWinklerSim) against DuckDB's built-in
    // jaro_winkler_similarity, two independent implementations of the
    // same definition agreeing pair-for-pair (4-dp-rounded before the
    // threshold so keep/drop never rides a ulp)
    ("er01_jw_linkage",
      (s, sf) => graft.ops.Linkage.jwPairs(
        table(s, sf, "part"), col("p_name"),
        n => substring(n, 1, 2), threshold = 0.85),
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
        |b AS (SELECT name, left(name, 2) AS blk FROM n)
        |SELECT a.name AS name_a, c.name AS name_b,
        |  floor(jaro_winkler_similarity(a.name, c.name) * 10000 + 0.5) / 10000 AS jw
        |FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
        |WHERE floor(jaro_winkler_similarity(a.name, c.name) * 10000 + 0.5) / 10000 >= 0.85""".stripMargin),

    // Fellegi-Sunter EM record linkage over a planted dirty-copy fixture:
    // B = customer with name perturbed on custkey%10, segment on %7,
    // nation on %5; candidates = true pairs (k=k) ∪ shifted pairs
    // (k+1=k'). One distributed pass collapses pairs to ≤2^3 agreement
    // patterns; quantized EM on that table is restated
    // iteration-for-iteration by the oracle. EM separates the clusters:
    // match posteriors w9 ≈ 1 for name-agreeing patterns, ≈ 0 otherwise.
    ("er02_fellegi_sunter",
      (s, sf) => {
        val cust = table(s, sf, "customer")
        val b = cust.select(col("c_custkey").as("bkey"),
          concat(col("c_name"), when(col("c_custkey") % 10 === 0, lit("X"))
            .otherwise(lit(""))).as("bname"),
          when(col("c_custkey") % 7 === 0, lit("ALT"))
            .otherwise(col("c_mktsegment")).as("bseg"),
          when(col("c_custkey") % 5 === 0, col("c_nationkey") + 1)
            .otherwise(col("c_nationkey")).as("bnat"))
        val mm = cust.join(b, cust("c_custkey") === b("bkey"))
        val uu = cust.join(b, cust("c_custkey") + 1 === b("bkey"))
        graft.ops.Linkage.fellegiSunter(mm.unionByName(uu), Seq(
          col("c_name") === col("bname"),
          col("c_mktsegment") === col("bseg"),
          col("c_nationkey") === col("bnat")), iterations = 10)
      },
      fsEmSql(10, 3,
        """SELECT (c.c_name = b.bname)::INT AS g0,
          |  (c.c_mktsegment = b.bseg)::INT AS g1,
          |  (c.c_nationkey = b.bnat)::INT AS g2
          |FROM customer c JOIN (SELECT c_custkey AS bkey,
          |    c_name || CASE WHEN c_custkey % 10 = 0 THEN 'X' ELSE '' END AS bname,
          |    CASE WHEN c_custkey % 7 = 0 THEN 'ALT' ELSE c_mktsegment END AS bseg,
          |    CASE WHEN c_custkey % 5 = 0 THEN c_nationkey + 1 ELSE c_nationkey END AS bnat
          |  FROM customer) b ON c.c_custkey = b.bkey
          |UNION ALL
          |SELECT (c.c_name = b.bname)::INT,
          |  (c.c_mktsegment = b.bseg)::INT,
          |  (c.c_nationkey = b.bnat)::INT
          |FROM customer c JOIN (SELECT c_custkey AS bkey,
          |    c_name || CASE WHEN c_custkey % 10 = 0 THEN 'X' ELSE '' END AS bname,
          |    CASE WHEN c_custkey % 7 = 0 THEN 'ALT' ELSE c_mktsegment END AS bseg,
          |    CASE WHEN c_custkey % 5 = 0 THEN c_nationkey + 1 ELSE c_nationkey END AS bnat
          |  FROM customer) b ON c.c_custkey + 1 = b.bkey""".stripMargin)),

    // end-to-end entity-resolution GOLDEN RECORD: er02's dirty-copy
    // fixture → equality linkage pairs → connected components →
    // best-record survivor per cluster (c04's keep-best) — the
    // composition a master-data pipeline runs; every stage restated by
    // the oracle (c01's recursive min-label closure + one rank window)
    ("er03_golden_record",
      (s, sf) => {
        val cust = table(s, sf, "customer")
        val a = cust.select(col("c_custkey").as("id"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        val b = cust.select((col("c_custkey") + 1000000L).as("id"),
          concat(col("c_name"), when(col("c_custkey") % 10 === 0, lit("X"))
            .otherwise(lit(""))).as("name"),
          (col("c_acctbal") - (col("c_custkey") % 100).cast("double")).as("bal"))
        val pairs = a.select(col("id").as("id_a"), col("name"))
          .join(b.select(col("id").as("id_b"), col("name")), Seq("name"))
          .select(col("id_a"), col("id_b"))
        val universe = a.unionByName(b)
        val clusters = Dedup.connectedComponents(pairs, col("id_a"),
          col("id_b"), universe, col("id"))
        Dedup.keepBestPerCluster(clusters, col("node"), col("label"),
          universe.select(col("id"), col("bal")), col("id"), col("bal"))
      },
      """WITH RECURSIVE
        |a AS (SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal FROM customer),
        |b AS (SELECT c_custkey + 1000000 AS id,
        |    c_name || CASE WHEN c_custkey % 10 = 0 THEN 'X' ELSE '' END AS name,
        |    c_acctbal - (c_custkey % 100)::DOUBLE AS bal FROM customer),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        |p AS (SELECT a.id AS ia, b.id AS ib FROM a JOIN b USING (name)),
        |e AS (SELECT ia AS x, ib AS y FROM p UNION ALL SELECT ib, ia FROM p),
        |r(id, l) AS (SELECT id, id FROM u
        |  UNION
        |  SELECT e.x, r.l FROM e JOIN r ON r.id = e.y),
        |cl AS (SELECT id, MIN(l) AS cluster FROM r GROUP BY id),
        |rk AS (SELECT cl.cluster, cl.id, u.bal AS metric,
        |    row_number() OVER (PARTITION BY cl.cluster
        |      ORDER BY u.bal DESC NULLS LAST, cl.id ASC) AS rk
        |  FROM cl JOIN u ON u.id = cl.id)
        |SELECT cluster, id, metric, (rk = 1) AS kept FROM rk""".stripMargin),

    // ---- streaming near-dup detection -----------------------------------
    // MinHash-LSH as a REAL streaming query: state keyed by (band, bhash),
    // each arrival pairs against all prior bucket members. One file = one
    // micro-batch under AvailableNow, and the bucketing is bit-identical
    // to the batch path, so the exact-verified pairs must equal d03's
    // all-pairs Jaccard oracle verbatim (recall argument = d03's:
    // 1-(1-j⁴)¹⁶ > 1-10⁻⁸ at j ≥ 0.8). Cross-batch state is spec-covered.
    ("st11_stream_neardup",
      (s, sf) => graft.streaming.CorpusStreams
        .runNearDupBatch(s, s"$sf/documents.parquet", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b")),
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([ toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN range(1, greatest(len(toks)-1, 2)) ]) AS ws
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws,b.ws))::DOUBLE
        |    / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8""".stripMargin),

    // ---- mergeable HLL roll-up ------------------------------------------
    // per-flag distinct-order sketches + union roll-up: every estimate —
    // including the unioned one, which answers from the composite
    // estimator rather than a direct sketch's HIP accumulator — must sit
    // within the 3·RSE DataSketches bound of its exact twin; property
    // verdicts beside the exact counts, the t09/t13 shape (DuckDB cannot
    // re-derive a DataSketches estimate, but it can re-derive the exact
    // counts and assert the claims)
    ("t22_hll_rollup",
      (s, sf) => {
        val li = table(s, sf, "lineitem")
        val bound = 3 * graft.ops.Sketches.hllRse(12)
        graft.ops.Sketches.hllRollup(li, col("l_returnflag"), col("l_orderkey"))
          .select(col("scope"), col("n_exact"),
            (abs(col("est") - col("n_exact"))
              <= col("n_exact") * bound + 1).as("est_ok"),
            coalesce(abs(col("est_direct") - col("n_exact"))
              <= col("n_exact") * bound + 1, lit(true)).as("merge_ok"))
      },
      """SELECT l_returnflag AS scope, count(DISTINCT l_orderkey) AS n_exact,
        |  TRUE AS est_ok, TRUE AS merge_ok FROM lineitem GROUP BY 1
        |UNION ALL
        |SELECT '__ALL__', count(DISTINCT l_orderkey), TRUE, TRUE
        |FROM lineitem""".stripMargin),

    // per-label embedding centroids: 4-dp floor-round BEFORE the
    // DECIMAL(28,4) sum (the t18/b01 order-independence recipe) — a
    // float centroid averaged in shuffle order is not reproducible
    ("s13_label_centroids",
      (s, sf) => graft.ops.Similarity.labelCentroids(
        table(s, sf, "embeddings"), col("label"), col("embedding")),
      """WITH x AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings)
        |SELECT label, pos,
        |  floor(sum(((floor(v::DOUBLE * 10000 + 0.5) / 10000)
        |      ::DECIMAL(28,4)))::DOUBLE / count(*) * 10000 + 0.5) / 10000 AS mean_v,
        |  count(*) AS n
        |FROM x GROUP BY 1, 2""".stripMargin),

    // per-type daily trend by exact-INTEGER OLS moments: Σx Σy Σxy Σx²
    // are all integer sums — exact in any order, no decimals needed —
    // and the only float ops are two final divisions on identical inputs
    ("ts10_daily_trend",
      (s, sf) => graft.ops.EventAnalytics.dailyTrend(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("ts"), col("event_type")),
      """WITH d AS (SELECT event_type AS etype,
        |    date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT etype, count(*) AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx FROM d GROUP BY 1)
        |SELECT etype, n,
        |  floor((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
        |    * 1000000 + 0.5) / 1000000 AS slope,
        |  floor((sy * sxx - sx * sxy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
        |    * 1000000 + 0.5) / 1000000 AS intercept
        |FROM m""".stripMargin),

    // truncated EWMA of daily volumes: the α(1−α)^i coefficients are
    // computed once driver-side and planted as literals into BOTH plans
    // (pow's last ulp is not libm-portable), and the sum is an explicit
    // fixed-order lag chain — identical IEEE expression in both engines
    ("ts11_ewma_daily",
      (s, sf) => graft.ops.EventAnalytics.ewmaDaily(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("ts"), col("event_type"), alpha = 0.3, horizon = 14),
      {
        val terms = graft.ops.EventAnalytics.ewmaCoefs(0.3, 14).zipWithIndex
          .map { case (c, i) =>
            s"($c::DOUBLE) * coalesce(lag(y, $i) OVER w, 0)::DOUBLE"
          }.mkString("\n    + ")
        s"""WITH d AS (SELECT event_type AS etype, ts::DATE AS day, count(*) AS y
           |  FROM events GROUP BY 1, 2)
           |SELECT etype, day,
           |  floor(($terms) * 1000000 + 0.5) / 1000000 AS ewma
           |FROM d WINDOW w AS (PARTITION BY etype ORDER BY day ASC)""".stripMargin
      }),

    // CUSUM mean-shift alarms over densified daily volumes in EXACT
    // integer arithmetic: S_i = max(0,S_{i-1}+x−μ−k) rewritten as
    // prefix−running-min, scaled by n_days to clear the rational mean —
    // no float anywhere, so the oracle restates it bit-for-bit
    // (windowed BIGINT sums cast — DuckDB window SUM → HUGEINT)
    ("ts12_cusum_shift",
      (s, sf) => graft.ops.EventAnalytics.cusumShift(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("ts"), col("event_type"), k = 0L, h = 10L),
      """WITH b AS (SELECT event_type AS etype, ts::DATE AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM b),
        |g AS (SELECT etype,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT DISTINCT etype FROM b), sp),
        |d AS (SELECT g.etype, g.day, coalesce(b.x, 0)::BIGINT AS x
        |  FROM g LEFT JOIN b ON b.etype = g.etype AND b.day = g.day),
        |t AS (SELECT etype, count(*) AS n, sum(x)::BIGINT AS tx FROM d GROUP BY 1),
        |p AS (SELECT d.etype, d.day, d.x, t.n,
        |    t.n * (sum(d.x) OVER (PARTITION BY d.etype ORDER BY d.day
        |      ROWS UNBOUNDED PRECEDING))::BIGINT
        |    - (row_number() OVER (PARTITION BY d.etype ORDER BY d.day))::BIGINT
        |      * (t.tx + 0 * t.n) AS pp
        |  FROM d JOIN t USING (etype)),
        |s AS (SELECT etype, day, x, n,
        |    pp - least(0, min(pp) OVER (PARTITION BY etype ORDER BY day
        |      ROWS UNBOUNDED PRECEDING)) AS s_scaled FROM p)
        |SELECT etype, day, x, s_scaled::BIGINT AS s_scaled,
        |  s_scaled > 10 * n AS alarm FROM s""".stripMargin),

    // last-touch attribution: window max over a CASE, strictly-prior
    // frame (UNBOUNDED..1 PRECEDING) so a simultaneous touch never
    // self-attributes; no self-join
    ("f06_last_touch",
      (s, sf) => graft.ops.EventAnalytics.lastTouchAttribution(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("event_type"), col("ts"), col("event_id"),
        convType = "purchase", touchType = "view"),
      """SELECT user_id, event_id AS conv_event_id, ts AS conv_ts, touch_ts,
        |  date_diff('second', touch_ts, ts) AS gap_s
        |FROM (SELECT *, max(CASE WHEN event_type = 'view' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin),

    // deterministic A-Res weighted reservoir: k per source, priority
    // u^(1/w) from the portable polyhash, 6-dp-rounded before ranking
    // (pow's last ulp is not portable across libm implementations)
    ("p11_weighted_reservoir",
      (s, sf) => graft.ops.Pipeline.weightedReservoirPerGroup(
        table(s, sf, "documents"), col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")), k = 5, salt = "res1"),
      """WITH t AS (SELECT doc_id, source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS ntok,
        |    (list_reduce(list_prepend(7::BIGINT, list_transform(
        |      string_split('res1:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |      (a, c) -> (a * 257 + c) % 2147483647) % 10000)::DOUBLE AS bk
        |  FROM documents),
        |p AS (SELECT doc_id, source, ntok,
        |    CASE WHEN ntok <= 0 THEN 0.0
        |         ELSE floor(pow((bk + 0.5) / 10000.0, 1.0 / ntok::DOUBLE)
        |           * 1000000 + 0.5) / 1000000 END AS pr FROM t)
        |SELECT source AS "group", doc_id AS id, ntok AS weight, rn AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY pr DESC, doc_id ASC) AS rn FROM p)
        |WHERE rn <= 5""".stripMargin),

    // overlapping chunking (the RAG chunker): sequence explode ∝ output,
    // zero shuffles, never crosses doc boundaries
    ("p12_chunk_overlap",
      (s, sf) => graft.ops.Pipeline.chunkWithOverlap(
        table(s, sf, "documents"), col("doc_id"), TextOps.tokenCount(col("text")),
        window = 64, stride = 48),
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n, unnest(range(0,
        |    greatest(ceil((n - 64) / 48.0), 0)::BIGINT + 1)) AS chunk_idx
        |  FROM t WHERE n > 0)
        |SELECT doc_id AS id, chunk_idx, chunk_idx * 48 AS start_tok,
        |  least(chunk_idx * 48 + 64, n) AS end_tok,
        |  least(chunk_idx * 48 + 64, n) - chunk_idx * 48 AS n_tok
        |FROM c""".stripMargin),

    // temperature-scaled mixture weights (w ∝ p^alpha): the multi-source
    // sampling-rate computation of multilingual training mixes; rounded
    // p^alpha values sum as DECIMAL so the normalizer is order-independent
    ("p13_temperature_mix",
      (s, sf) => graft.ops.Pipeline.temperatureMixture(
        table(s, sf, "documents"), col("source"), alpha = 0.5),
      """WITH c AS (SELECT source AS "group", count(*) AS n_docs
        |    FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs)::BIGINT AS n FROM c),
        |s AS (SELECT "group", n_docs,
        |    floor(n_docs::DOUBLE / n::DOUBLE * 1000000 + 0.5) / 1000000 AS p6
        |  FROM c, t),
        |s2 AS (SELECT *, floor(pow(p6, 0.5) * 1000000 + 0.5) / 1000000 AS pa
        |  FROM s),
        |z AS (SELECT sum(pa::DECIMAL(28,6)) AS z FROM s2)
        |SELECT "group", n_docs, p6,
        |  floor(pa / z::DOUBLE * 1000000 + 0.5) / 1000000 AS w6
        |FROM s2, z""".stripMargin),

    // deterministic weighted interleave (training-order construction):
    // weighted-fair-queuing finish times over salted-hash in-source
    // ranks — any prefix holds each source ∝ its weight
    ("p15_weighted_interleave",
      (s, sf) => graft.ops.Pipeline.interleaveByWeight(
        table(s, sf, "documents"), col("doc_id"), col("source"),
        Map("src0" -> 3, "src1" -> 2), salt = "il1"),
      """WITH w AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 ELSE 1 END AS wt,
        |    (list_reduce(list_prepend(7::BIGINT, list_transform(
        |      string_split('il1:' || doc_id::VARCHAR, ''), c -> ord(c)::BIGINT)),
        |      (a, c) -> (a * 257 + c) % 2147483647) % 10000) AS bk
        |  FROM documents),
        |r AS (SELECT doc_id, source, wt,
        |    row_number() OVER (PARTITION BY source ORDER BY bk, doc_id) - 1 AS r
        |  FROM w)
        |SELECT doc_id AS id, source AS "group", r AS r_in_source,
        |  row_number() OVER (ORDER BY (r + 1)::DOUBLE / wt::DOUBLE,
        |    source, doc_id) AS pos
        |FROM r""".stripMargin),

    // Neyman allocation of a 1000-label budget across sources by token-
    // count variability: n_h ∝ N_h·S_h from exact decimal integer moments
    // mixture epoch plan: the pre-flight audit of a (weights, budget)
    // mixture — per-source target tokens, implied repetition count, and
    // an over-cap flag for sources the plan would repeat past maxEpochs;
    // weight-absent sources appear with weight 0 so dropped mass is
    // visible. Counts exact; floor(budget*weight) and the 6-dp epoch
    // ratio are the identical IEEE expression both engines
    ("p16_epoch_plan",
      (s, sf) => graft.ops.Pipeline.epochPlan(table(s, sf, "documents"), col("source"),
        TextOps.tokenCount(col("text")),
        Map("src0" -> 0.3, "src1" -> 0.2, "src7" -> 0.1),
        totalBudget = 50000L, maxEpochs = 4.0),
      """WITH t AS (SELECT source, CASE WHEN trim(text)='' THEN 0
        |      ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok
        |    FROM documents),
        |g AS (SELECT source, count(*) AS n_docs, sum(ntok)::BIGINT AS n_tokens
        |    FROM t GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |    CASE source WHEN 'src0' THEN 0.3::DOUBLE WHEN 'src1' THEN 0.2::DOUBLE
        |                WHEN 'src7' THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END AS weight
        |  FROM g),
        |p AS (SELECT source, n_docs, n_tokens, weight,
        |    floor(50000::DOUBLE * weight)::BIGINT AS target_tokens FROM w)
        |SELECT source, n_docs, n_tokens, weight, target_tokens,
        |  CASE WHEN n_tokens > 0 THEN floor(target_tokens::DOUBLE
        |    / n_tokens::DOUBLE * 1000000 + 0.5) / 1000000 END AS epochs6,
        |  CASE WHEN n_tokens > 0
        |       THEN target_tokens::DOUBLE / n_tokens::DOUBLE > 4.0
        |       ELSE target_tokens > 0 END AS over_cap
        |FROM p""".stripMargin),

    ("p14_neyman_alloc",
      (s, sf) => graft.ops.Pipeline.neymanAllocation(
        table(s, sf, "documents"), col("source"), TextOps.tokenCount(col("text")),
        budget = 1000L),
      """WITH t AS (SELECT source AS stratum,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+'))
        |    END AS x
        |  FROM documents),
        |m AS (SELECT stratum, count(*) AS n_rows,
        |    sum(x::DECIMAL(38,0)) AS sx, sum((x*x)::DECIMAL(38,0)) AS sxx
        |  FROM t GROUP BY 1),
        |s AS (SELECT stratum, n_rows,
        |    floor(sqrt(n_rows::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |      / n_rows::DOUBLE * 1000000 + 0.5) / 1000000 AS sd6 FROM m),
        |w AS (SELECT stratum, n_rows, sd6,
        |    (floor(n_rows::DOUBLE * sd6 * 10000 + 0.5) / 10000)::DECIMAL(28,4)
        |      AS w4 FROM s),
        |z AS (SELECT sum(w4) AS z FROM w)
        |SELECT stratum, n_rows, sd6,
        |  floor(1000.0 * (w4::DOUBLE / z::DOUBLE) + 0.5)::BIGINT AS alloc
        |FROM w, z""".stripMargin),

    // first-order Markov transition matrix over per-user event-type
    // sequences: one lead window (ts, event_id tie-break) + a cell-table
    // aggregate; probabilities are exact-integer ratios floored at 6 dp
    ("f07_markov",
      (s, sf) => graft.ops.EventAnalytics.transitionMatrix(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("event_type"), col("ts"), col("event_id")),
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  floor(n::DOUBLE / (sum(n) OVER (PARTITION BY from_type))::DOUBLE
        |    * 1000000 + 0.5) / 1000000 AS p6
        |FROM c""".stripMargin),

    // Kaplan-Meier survival (product-limit): per-user activity spans as
    // durations, %4 pseudo-censoring; ln terms on exact-rational args
    // 6-dp floored + DECIMAL-cumsummed in duration order, only the final
    // exp is float; d=n pins survival to exactly 0 past the wipe point
    ("f08_survival",
      (s, sf) => graft.ops.EventAnalytics.kaplanMeier(
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .groupBy(col("user_id"))
          .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
            .as("dur")),
        col("dur"), col("user_id") % 4 =!= 0),
      """WITH per AS (SELECT user_id,
        |    date_diff('day', min(ts::DATE), max(ts::DATE))::BIGINT AS t,
        |    (user_id % 4 <> 0) AS obs FROM events GROUP BY user_id),
        |byt AS (SELECT t, count(*)::BIGINT AS n_at,
        |    sum(CASE WHEN obs THEN 1 ELSE 0 END)::BIGINT AS n_events
        |  FROM per GROUP BY 1),
        |r AS (SELECT t, n_events, (n_at - n_events)::BIGINT AS n_censored,
        |    ((SELECT sum(n_at) FROM byt)
        |     - coalesce(sum(n_at) OVER (ORDER BY t
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS n_risk
        |  FROM byt),
        |s AS (SELECT t, n_risk, n_events, n_censored,
        |    floor(n_events::DOUBLE / n_risk * 1000000 + 0.5) / 1000000 AS haz6,
        |    CASE WHEN n_events < n_risk THEN
        |      CAST(floor(ln(1.0 - n_events::DOUBLE / n_risk) * 1000000 + 0.5)
        |           / 1000000 AS DECIMAL(28,6)) END AS term,
        |    max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t) AS wiped
        |  FROM r)
        |SELECT t, n_risk, n_events, n_censored, haz6,
        |  CASE WHEN wiped = 1 THEN 0.0
        |       ELSE floor(exp(CAST(coalesce(sum(term) OVER (ORDER BY t), 0)
        |              AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS surv6
        |FROM s""".stripMargin),

    // day-of-week volume profile (weekly seasonal component): same
    // complete-grid discipline as ts13, Monday=0 on both engines
    ("ts14_dow_profile",
      (s, sf) => graft.ops.EventAnalytics.dowProfile(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("ts")),
      """WITH daily AS (SELECT ts::DATE AS day, count(*) AS v
        |    FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
        |    AS day FROM span),
        |series AS (SELECT day, coalesce(v, 0)::BIGINT AS v
        |  FROM grid LEFT JOIN daily USING (day))
        |SELECT isodow(day)::INT - 1 AS dow, count(*) AS n_days,
        |  sum(v)::BIGINT AS total_v,
        |  floor(sum(v)::DOUBLE / count(*)::DOUBLE * 10000 + 0.5) / 10000
        |    AS avg4
        |FROM series GROUP BY 1""".stripMargin),

    // autocorrelation of daily event volume at lags 1..7 (weekly
    // seasonality detector): complete day grid with hard zeros, Pearson r
    // per lag from exact decimal-summed integer moments (a08 recipe)
    ("ts13_acf_daily",
      (s, sf) => graft.ops.EventAnalytics.dailyVolumeAcf(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("ts"), maxLag = 7),
      """WITH daily AS (SELECT ts::DATE AS day, count(*) AS v
        |    FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
        |    AS day FROM span),
        |series AS (SELECT day, coalesce(v, 0)::BIGINT AS v
        |  FROM grid LEFT JOIN daily USING (day)),
        |lags AS (SELECT unnest(range(1, 8))::INT AS lag),
        |pr AS (SELECT lag, a.v AS x, b.v AS y
        |  FROM series a, lags, series b WHERE b.day = a.day + lag),
        |m AS (SELECT lag, count(*) AS n_pairs,
        |    sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(38,0)) AS sy,
        |    sum((x*y)::DECIMAL(38,0)) AS sxy,
        |    sum((x*x)::DECIMAL(38,0)) AS sxx,
        |    sum((y*y)::DECIMAL(38,0)) AS syy
        |  FROM pr GROUP BY lag)
        |SELECT lag, n_pairs,
        |  floor((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |         * (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS corr6
        |FROM m""".stripMargin),

    // Theil-Sen robust daily trend: median of all pairwise slopes over
    // the complete daily grid — O(span²) pairs but span-bounded (a year
    // is ~66k pairs, metadata). Every slope is one double division of
    // exact integers, so both engines hold the identical slope multiset
    // and the median picks by sorted position (ties interchangeable by
    // value); two-middle average on even counts, 6-dp floored
    ("ts15_theil_sen",
      (s, sf) => graft.ops.EventAnalytics.theilSenDailyTrend(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("ts")),
      """WITH daily AS (SELECT ts::DATE AS day, count(*) AS v
        |    FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
        |    AS day FROM span),
        |series AS (SELECT date_diff('day', (SELECT d0 FROM span), grid.day)
        |      ::BIGINT AS i, coalesce(v, 0)::BIGINT AS v
        |  FROM grid LEFT JOIN daily USING (day)),
        |slopes AS (SELECT (b.v - a.v)::DOUBLE / (b.i - a.i)::DOUBLE AS slope
        |  FROM series a JOIN series b ON a.i < b.i),
        |ranked AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
        |    count(*) OVER () AS np FROM slopes)
        |SELECT (SELECT count(*) FROM series)::BIGINT AS n_days,
        |  max(np)::BIGINT AS n_pairs,
        |  floor(avg(slope) * 1000000 + 0.5) / 1000000 AS slope6
        |FROM ranked WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2""".stripMargin),

    // Mann-Kendall monotone-trend test on the same densified grid:
    // S and the variance numerator are exact integers (both emitted);
    // the only float ops are /18, sqrt, one division — identical IEEE
    // chain both engines before the 6-dp floor; varS=0 → NULL z
    ("ts17_mann_kendall",
      (s, sf) => graft.ops.EventAnalytics.mannKendallDailyTrend(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("ts")),
      """WITH daily AS (SELECT ts::DATE AS day, count(*) AS v
        |    FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
        |    AS day FROM span),
        |series AS (SELECT date_diff('day', (SELECT d0 FROM span), grid.day)
        |      ::BIGINT AS i, coalesce(v, 0)::BIGINT AS v
        |  FROM grid LEFT JOIN daily USING (day)),
        |s AS (SELECT coalesce(sum(sign(b.v - a.v)), 0)::BIGINT AS s_stat
        |      FROM series a JOIN series b ON a.i < b.i),
        |t AS (SELECT coalesce(sum(t*(t-1)*(2*t+5)), 0)::BIGINT AS tie_sum
        |      FROM (SELECT count(*)::BIGINT AS t FROM series GROUP BY v)),
        |n AS (SELECT count(*)::BIGINT AS n_days FROM series),
        |v AS (SELECT n_days, s_stat,
        |        (n_days*(n_days-1)*(2*n_days+5) - tie_sum)::BIGINT AS var_num
        |      FROM n, s, t)
        |SELECT n_days, s_stat, var_num,
        |  CASE WHEN var_num > 0 THEN
        |    floor((s_stat - sign(s_stat))::DOUBLE
        |          / sqrt(var_num::DOUBLE / 18.0) * 1000000 + 0.5) / 1000000
        |  END AS z6
        |FROM v""".stripMargin),

    // MAD outlier days per event type over the densified daily grid:
    // both medians are two-middle averages by sorted position, so med /
    // absdev / mad are exact binary doubles (multiples of .5/.25) in
    // both engines; the only inexact op is the final score division,
    // identical IEEE before the 6-dp floor; mad=0 → NULL score and any
    // nonzero deviation flags
    ("ts16_mad_outliers",
      (s, sf) => graft.ops.EventAnalytics.madOutliers(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("ts"), col("event_type"), cutoff = 3.5),
      """WITH b AS (SELECT event_type AS etype, ts::DATE AS day, count(*) AS v
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM b),
        |dense AS (SELECT g.etype, g.day, coalesce(b.v, 0)::BIGINT AS v
        |  FROM (SELECT etype, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
        |          AS day FROM (SELECT DISTINCT etype FROM b), sp) g
        |  LEFT JOIN b ON b.etype = g.etype AND b.day = g.day),
        |r1 AS (SELECT etype, v, row_number() OVER (PARTITION BY etype ORDER BY v)
        |    AS rn, count(*) OVER (PARTITION BY etype) AS n FROM dense),
        |med AS (SELECT etype, avg(v) AS med FROM r1
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
        |dev AS (SELECT dense.etype, day, v, med, abs(v - med) AS absdev
        |  FROM dense JOIN med USING (etype)),
        |r2 AS (SELECT etype, absdev, row_number() OVER (PARTITION BY etype
        |      ORDER BY absdev) AS rn, count(*) OVER (PARTITION BY etype) AS n
        |  FROM dev),
        |mad AS (SELECT etype, avg(absdev) AS mad FROM r2
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1)
        |SELECT dev.etype, day, v, med, absdev,
        |  CASE WHEN mad > 0.0
        |       THEN floor(absdev / mad * 1000000 + 0.5) / 1000000 END AS score6,
        |  CASE WHEN mad > 0.0 THEN absdev / mad > 3.5
        |       ELSE absdev > 0.0 END AS outlier
        |FROM dev JOIN mad USING (etype)""".stripMargin),

    // streaming observability: observe() metrics aggregated inside the
    // ingest scan itself (zero extra passes), read from the progress
    // stream and summed across micro-batches — the streaming twin of
    // the a09 batch Observation gate
    ("st15_stream_observe",
      (s, sf) => graft.streaming.EventStreams
        .runObservedQuality(s, s"$sf/events.parquet"),
      """SELECT count(*) AS n_rows, count(user_id) AS n_user,
        |  (sum(CASE WHEN value > 75.0 THEN 1 ELSE 0 END))::BIGINT AS n_high
        |FROM events""".stripMargin),

    // nearest-centroid confusion matrix: centroids ride the plan as a
    // literal (labels×dim, result-sized), the corpus pass is one
    // codegen'd scan with a sequential left-fold d² per label —
    // bit-identical to DuckDB's list_reduce — and the only shuffle is
    // the labels²-bounded confusion aggregate
    ("s14_nearest_centroid",
      (s, sf) => graft.ops.Similarity.nearestCentroidConfusion(
        table(s, sf, "embeddings"), col("label"), col("embedding")),
      """WITH x AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings),
        |cent AS (SELECT label, pos,
        |  floor(sum(((floor(v::DOUBLE * 10000 + 0.5) / 10000)
        |      ::DECIMAL(28,4)))::DOUBLE / count(*) * 10000 + 0.5) / 10000 AS mean_v
        |  FROM x GROUP BY 1, 2),
        |ca AS (SELECT label AS clabel, list(mean_v ORDER BY pos) AS cvec
        |       FROM cent GROUP BY 1),
        |d AS (SELECT e.vec_id, e.label AS label_true, c.clabel,
        |  floor(list_reduce(list_prepend(0.0,
        |      [ (z[1] - z[2]) * (z[1] - z[2])
        |        FOR z IN list_zip(e.embedding::DOUBLE[], c.cvec) ]),
        |    (acc, dd) -> acc + dd) * 10000 + 0.5) / 10000 AS d2
        |  FROM embeddings e, ca c),
        |p AS (SELECT vec_id, label_true, clabel AS label_pred FROM d
        |      QUALIFY row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY d2, clabel) = 1)
        |SELECT label_true, label_pred, count(*) AS n FROM p GROUP BY 1, 2""".stripMargin),

    // ---- privacy / release governance -----------------------------------
    // k-anonymity risk report: QI cells re-identifiable by linkage
    ("pr01_k_anonymity",
      (s, sf) => graft.ops.Privacy.kAnonymityReport(
        table(s, sf, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")), k = 10),
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 10""".stripMargin),

    // suppression to k-anonymity: the released row set after dropping
    // every sub-k QI cell (one window-count filter, one shuffle)
    ("pr02_suppress_to_k",
      (s, sf) => graft.ops.Privacy.suppressSmallGroups(
          table(s, sf, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment")), k = 10)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
      """SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
        |QUALIFY count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) >= 10""".stripMargin),

    // l-diversity: k-anonymous cells can still leak a sensitive
    // attribute when every member shares it — here the account-balance
    // sign (49 leaking cells at sf0.01)
    ("pr03_l_diversity",
      (s, sf) => graft.ops.Privacy.lDiversityReport(
        table(s, sf, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        col("c_acctbal") < 0, l = 2),
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
        |  count(DISTINCT c_acctbal < 0) AS n_distinct_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING count(DISTINCT c_acctbal < 0) < 2""".stripMargin),

    // vocabulary coverage cutoff: smallest frequency-ranked vocab
    // covering ≥95% of token mass — the tokenizer-budget number; the
    // cumulative window runs over the VOCAB-sized term table, and the
    // (cnt DESC, term ASC) rank order makes the cutoff a pure corpus
    // function; windowed BIGINT sums cast (DuckDB window SUM → HUGEINT)
    ("t31_vocab_coverage",
      (s, sf) => TextOps.vocabCoverage(table(s, sf, "documents"), col("text"), coverage = 0.95),
      """WITH w0 AS (SELECT unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
        |            FROM documents WHERE trim(text) <> ''),
        |c AS (SELECT term, count(*) AS cnt FROM w0 GROUP BY 1),
        |r AS (SELECT
        |    (sum(cnt) OVER (ORDER BY cnt DESC, term ASC
        |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
        |    row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk,
        |    (sum(cnt) OVER ())::BIGINT AS total, count(*) OVER () AS nterms
        |  FROM c)
        |SELECT min(total) AS total_tokens, min(nterms) AS n_terms,
        |  min(rk) AS cover_size,
        |  floor(min_by(cum, rk) / min(total) * 10000 + 0.5) / 10000 AS actual_coverage
        |FROM r WHERE cum >= ceil(total * 0.95)""".stripMargin),

    // HTML → text extraction (the WARC→WET step): script/style/comment
    // subtrees dropped BEFORE tag-stripping (their bodies contain bare
    // '<'), entities decoded &amp;-last, whitespace collapsed. The
    // fixture wraps each doc in a deterministic HTML shell (attributes,
    // entities, a script with a bare '<') and the oracle restates the
    // identical RE2-compatible regex chain on the same shell
    ("t32_html_strip",
      (s, sf) => TextOps.stripHtml(
        table(s, sf, "documents").select(col("doc_id"), concat(
          lit("<html><head><style>p{color:#333}</style><!-- nav --></head>" +
            "<body><div id=\"d"), col("doc_id"), lit("\" class='x'><p>"),
          col("text"),
          lit("</p><br/><span>&amp;copy; 2024 &lt;Corp&gt; &quot;A&quot;" +
            "&nbsp;B&#39;s</span><script type=\"text/javascript\">" +
            "var x = 1 < 2;</script></div></body></html>")).as("html")),
        col("doc_id"), col("html")),
      """WITH h AS (SELECT doc_id,
        |  '<html><head><style>p{color:#333}</style><!-- nav --></head><body><div id="d'
        |    || doc_id || '" class=''x''><p>' || text
        |    || '</p><br/><span>&amp;copy; 2024 &lt;Corp&gt; &quot;A&quot;&nbsp;B&#39;s</span><script type="text/javascript">var x = 1 < 2;</script></div></body></html>'
        |    AS html FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<(?:script|style)[^>]*>.*?</(?:script|style)[ \t\n\r\f]*>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |  '&nbsp;', ' '), '&amp;', '&') AS t FROM s3)
        |SELECT doc_id, trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g')) AS text
        |FROM s4""".stripMargin),

    // watermark late-data accounting: three staged files = three micro-
    // batches (mtime order). Batch 1's 12:00 high mark becomes the
    // gating watermark (11:50) only at batch 3 — the commit after batch
    // 2 — so batch 3's two 09:xx rows combine into one late [09,10)
    // group and drop (the agg drop unit is the group), while its 11:55
    // row survives; counts read per-batch from state-operator progress
    // mid-batch crash + restart exactly-once: batch 0's foreachBatch
    // writes a PARTIAL non-atomic slice to the sink and then throws;
    // the restart on the same checkpoint replays batch 0 from the WAL
    // and the idempotent per-batch overwrite supersedes the debris —
    // the read-back aggregate must equal the plain batch aggregate
    // (no loss, no duplicates, across a real injected failure)
    ("st17_crash_restart_exactly_once",
      (s, sf) => EventStreams.runCrashRestartExactlyOnce(
        s, s"$sf/events.parquet"),
      "SELECT user_id, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sumv " +
        "FROM events GROUP BY user_id"),

    ("st16_late_drop_audit",
      (s, sf) => {
        val dir = s"${TpchLake.derivedDir(sf)}/latedrop"
        val hconf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        def writeBatch(name: String, times: Seq[String], mtime: Long): Unit = {
          val tmp = s"$dir/_tmp_$name"
          val rows = times.map(t =>
            org.apache.spark.sql.Row(java.sql.Timestamp.valueOf(t)))
          s.createDataFrame(s.sparkContext.parallelize(rows, 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("ts",
                org.apache.spark.sql.types.TimestampType))))
            .write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(part.getPath), fs, dst, false, hconf)
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          fs.setTimes(dst, mtime, -1)
        }
        writeBatch("b1", Seq("2024-01-01 10:00:00", "2024-01-01 11:00:00",
          "2024-01-01 12:00:00"), 1000000L)
        writeBatch("b2", Seq("2024-01-01 12:05:00"), 2000000L)
        writeBatch("b3", Seq("2024-01-01 09:00:00", "2024-01-01 09:30:00",
          "2024-01-01 11:55:00"), 3000000L)
        EventStreams.runLateDropAudit(s, dir,
          delay = "10 minutes", windowLen = "1 hour")
      },
      "SELECT 7::BIGINT AS n_input, 1::BIGINT AS n_late_groups_dropped"),

    // sentence segmentation stats (readability / fragment detection):
    // split on [.!?]+ runs, empty-trim segments are not sentences, avg
    // tokens per sentence from exact integer totals
    ("t33_sentence_stats",
      (s, sf) => TextOps.sentenceStats(table(s, sf, "documents"), col("doc_id"), col("text")),
      """WITH s AS (SELECT doc_id,
        |    [x FOR x IN list_transform(
        |      string_split_regex(text, '[.!?]+'), y -> trim(y)) IF x <> ''] AS segs
        |  FROM documents),
        |t AS (SELECT doc_id, len(segs) AS n_sent,
        |    coalesce(list_sum(list_transform(segs,
        |      u -> len(string_split_regex(u, '\s+')))), 0)::BIGINT AS n_tok
        |  FROM s)
        |SELECT doc_id, n_sent, n_tok,
        |  CASE WHEN n_sent = 0 THEN 0.0
        |       ELSE floor(n_tok::DOUBLE / n_sent::DOUBLE * 10000 + 0.5) / 10000
        |  END AS avg4
        |FROM t""".stripMargin),

    // Flesch-style reading ease from exact word/sentence/vowel-group
    // counts; the t33 sentence rule + the classic syllable proxy
    ("t35_readability",
      (s, sf) => TextOps.readability(table(s, sf, "documents"), col("doc_id"), col("text")),
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+'))
        |    END AS n_words,
        |    len([x FOR x IN list_transform(
        |      string_split_regex(text, '[.!?]+'), y -> trim(y)) IF x <> ''])
        |      AS n_sent,
        |    (CASE WHEN trim(text) = '' THEN 0
        |         ELSE coalesce(list_sum(list_transform(
        |           string_split_regex(lower(trim(text)), '\s+'),
        |           t -> greatest(len(string_split_regex(t, '[aeiouy]+')) - 1,
        |                         1))), 0)
        |    END)::BIGINT AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_sent, n_syll,
        |  CASE WHEN n_sent = 0 OR n_words = 0 THEN 0.0
        |       ELSE floor((206.835::DOUBLE
        |         - 1.015::DOUBLE * (n_words::DOUBLE / n_sent::DOUBLE)
        |         - 84.6::DOUBLE * (n_syll::DOUBLE / n_words::DOUBLE))
        |         * 10000 + 0.5) / 10000
        |  END AS fre4
        |FROM s""".stripMargin),

    // Zipf rank-frequency slope over the top-100 terms: OLS on 6-dp
    // ln(rank)/ln(count) with decimal-summed moments; one corpus-health
    // number (natural text ≈ −1)
    // tokenizer-fertility profile per language: chars/token and
    // tokens/doc from one scan — the multilingual budget skew check;
    // exact integer sums, two 4-dp-floored double divisions
    ("t37_fertility",
      (s, sf) => TextOps.fertilityProfile(table(s, sf, "documents"), col("lang"), col("text")),
      """WITH t AS (SELECT lang,
        |    CASE WHEN trim(text)='' THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)),'\s+')) END AS ntok,
        |    len(text) AS nch FROM documents)
        |SELECT lang AS grp, count(*) AS n_docs, sum(ntok)::BIGINT AS n_tokens,
        |  sum(nch)::BIGINT AS n_chars,
        |  floor(sum(ntok)::DOUBLE / count(*)::DOUBLE * 10000 + 0.5) / 10000
        |    AS tok_per_doc4,
        |  CASE WHEN sum(ntok) > 0
        |       THEN floor(sum(nch)::DOUBLE / sum(ntok)::DOUBLE * 10000 + 0.5) / 10000
        |  END AS chars_per_tok4
        |FROM t GROUP BY 1""".stripMargin),

    // ---- Unigram-LM (SentencePiece-style) tokenizer ----------------------
    // the second tokenizer family next to BPE (t25/t27): seed vocab of
    // frequent substrings, hard-EM re-estimation of piece probabilities,
    // prune-to-vocab loop. Probabilities are quantized to integer
    // billionths (exact integer math) and Viterbi scores are IEEE double
    // products of q/1e9 — no transcendentals — so the learned vocab is
    // bit-identical cross-engine. The oracle re-derives the ENTIRE
    // training run: every EM pass is an unrolled per-position DP (12
    // stages of argmax-join CTEs) plus an unrolled backpointer walk,
    // with the same quantization, tie-breaks, and prune schedule
    ("t40_unigram_learn",
      (s, sf) => graft.ops.UnigramLm.learn(table(s, sf, "documents"), col("text")),
      unigramOracleSql()),

    // ...and the tokenizer APPLIED corpus-wide: re-learn, then encode
    // every document (Viterbi per DISTINCT word, joined back per doc —
    // the BPE reduction) and count subwords per doc. The oracle runs
    // one more unrolled segmentation pass under the final vocabulary,
    // so any drift in the learned probabilities or in the DP's
    // tie-breaking breaks hundreds of per-doc counts
    ("t41_unigram_encode",
      (s, sf) => {
        val vocab = graft.ops.UnigramLm.learn(table(s, sf, "documents"), col("text"))
        graft.ops.UnigramLm.encodeCounts(table(s, sf, "documents"), "doc_id", col("text"), vocab)
      },
      unigramEncodeOracleSql()),

    // ...and the LM as a QUALITY FILTER (the CCNet recipe): per-doc
    // bits-per-char under the learned unigram model's Viterbi
    // segmentation. Piece nats are 6-dp-rounded ln(q/1e9) (the t36
    // transcendental recipe), all sums exact DECIMAL, one final double
    // division 4-dp floored — so a per-doc float score still
    // hash-matches cross-engine. Low bpc = templated/repetitive text,
    // high bpc = out-of-model noise: the two tails curation cuts
    ("t42_unigram_bpc",
      (s, sf) => {
        val vocab = graft.ops.UnigramLm.learn(table(s, sf, "documents"), col("text"))
        graft.ops.UnigramLm.docBitsPerChar(table(s, sf, "documents"), "doc_id", col("text"), vocab)
      },
      unigramBpcOracleSql()),

    // Heaps'-law vocabulary growth V(n) ~ K*n^beta over bigrams, the
    // corpus read in 64 id-range buckets (the cumulative window runs
    // over the bucket GRID, never a row-sized sort): the "how much new
    // vocabulary does 10x more data buy" scaling diagnostic. Bucket
    // index, lns, and OLS are the identical IEEE/decimal chains in
    // both engines (t36 recipe)
    ("t43_heaps_law",
      (s, sf) => TextOps.heapsLaw(table(s, sf, "documents"), col("doc_id"), col("text")),
      """WITH mm AS (SELECT min(doc_id)::BIGINT AS mn, max(doc_id)::BIGINT AS mx
        |  FROM documents),
        |base AS (SELECT CAST(floor((doc_id - mm.mn)::DOUBLE * 64
        |      / (mm.mx - mm.mn + 1)::DOUBLE) AS BIGINT) AS b,
        |    unnest([toks[i] || ' ' || toks[i+1]
        |      FOR i IN range(1, greatest(len(toks), 1))]) AS g
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)),'\s+') AS toks
        |        FROM documents WHERE trim(text) <> ''), mm),
        |perb AS (SELECT b, count(*)::BIGINT AS nt FROM base GROUP BY 1),
        |firstb AS (SELECT fb AS b, count(*)::BIGINT AS nv FROM (
        |    SELECT g, min(b) AS fb FROM base GROUP BY 1) GROUP BY 1),
        |grid AS (SELECT t.b, coalesce(perb.nt, 0) AS nt, coalesce(firstb.nv, 0) AS nv
        |  FROM range(64) t(b) LEFT JOIN perb ON perb.b = t.b
        |  LEFT JOIN firstb ON firstb.b = t.b),
        |cum AS (SELECT sum(nt) OVER (ORDER BY b) AS cn,
        |    sum(nv) OVER (ORDER BY b) AS cv FROM grid),
        |pts AS (SELECT floor(ln(cn::DOUBLE) * 1000000 + 0.5) / 1000000 AS x,
        |    floor(ln(cv::DOUBLE) * 1000000 + 0.5) / 1000000 AS y
        |  FROM cum WHERE cn > 0 AND cv > 0),
        |m AS (SELECT count(*)::BIGINT AS np,
        |    sum(x::DECIMAL(28,6)) AS sx, sum(y::DECIMAL(28,6)) AS sy,
        |    sum((floor(x * y * 1000000 + 0.5) / 1000000)::DECIMAL(28,6)) AS sxy,
        |    sum((floor(x * x * 1000000 + 0.5) / 1000000)::DECIMAL(28,6)) AS sxx
        |  FROM pts)
        |SELECT np AS n_pts,
        |  floor((np::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS beta6,
        |  floor((sy::DOUBLE - ((np::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |      / (np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
        |    / np::DOUBLE * 1000000 + 0.5) / 1000000 AS lnk6
        |FROM m""".stripMargin),

    // Chao1 unseen-vocabulary estimate + Good-Turing coverage over the
    // bigram spectrum (the word vocabulary is closed at 31 — bigrams
    // carry the open tail): exact integer frequency-spectrum aggs,
    // two 6-dp-floored double expressions
    ("t44_chao1_richness",
      (s, sf) => {
        TextOps.chao1Richness(table(s, sf, "documents"),
          when(length(trim(col("text"))) === 0, array().cast("array<string>"))
            .otherwise(graft.functions.HashFunctions.wordGrams(
              lower(trim(col("text"))), 2)))
      },
      """WITH g AS (SELECT unnest([toks[i] || ' ' || toks[i+1]
        |      FOR i IN range(1, greatest(len(toks), 1))]) AS w
        |  FROM (SELECT string_split_regex(lower(trim(text)),'\s+') AS toks
        |        FROM documents WHERE trim(text) <> '')),
        |c AS (SELECT w, count(*)::BIGINT AS c FROM g GROUP BY 1),
        |s AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS v_obs,
        |    coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS f1,
        |    coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0)::BIGINT AS f2
        |  FROM c)
        |SELECT n_tokens, v_obs, f1, f2,
        |  CASE WHEN n_tokens > 0 THEN
        |    floor((v_obs::DOUBLE + f1::DOUBLE * (f1 - 1)::DOUBLE
        |      / (2.0 * (f2 + 1)::DOUBLE)) * 1000000 + 0.5) / 1000000
        |  END AS chao1_6,
        |  CASE WHEN n_tokens > 0 THEN
        |    floor((1.0 - f1::DOUBLE / n_tokens::DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS coverage6
        |FROM s""".stripMargin),

    // KMV (bottom-k) distinct sketch: O(k) state per group, mergeable,
    // and — unlike HLL — a pure function of the value set, so the
    // oracle restates the ENTIRE sketch exactly as ORDER BY hash
    // LIMIT k over distinct md5-prefix hashes. est is integer
    // arithmetic on the k-th order statistic; measured 1–3% off the
    // true distinct count at k=256 (RSE 1/√254 ≈ 6%).
    ("t45_kmv_distinct",
      (s, sf) => graft.ops.Sketches.kmvDistinctPerGroup(
        table(s, sf, "lineitem"),
        col("l_returnflag"), col("l_partkey"), k = 256, salt = "kmv1"),
      """WITH d AS (SELECT DISTINCT l_returnflag AS scope,
        |    ('0x' || substr(md5('kmv1:' || l_partkey::VARCHAR), 1, 13))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT scope, h, row_number() OVER (PARTITION BY scope ORDER BY h) AS rn
        |      FROM d),
        |a AS (SELECT scope, count(*)::BIGINT AS m, max(h) AS kth
        |      FROM r WHERE rn <= 256 GROUP BY scope)
        |SELECT scope, 256 AS k, m,
        |  CASE WHEN m < 256 THEN NULL ELSE kth END AS kth_hash,
        |  CASE WHEN m < 256 THEN m
        |       ELSE (255::BIGINT * 4503599627370496) // kth END AS est
        |FROM a""".stripMargin),

    // Aho-Corasick multi-keyword tagging: one automaton pass per doc
    // (dictionary-size-independent) vs the oracle's k contains-scans —
    // identical sorted-distinct-matches semantics by construction.
    // Output stringified (space-joined) — the driver's pandas harness
    // cannot sort raw array<string> columns (r13 verdict item 1).
    ("t47_keyword_tags",
      (s, sf) => {
        table(s, sf, "documents").select(col("doc_id"),
          concat_ws(" ", TextOps.keywordTags(col("text"),
            Seq("big", "column", "join", "key", "sort", "zzzmissing"))).as("tags"))
      },
      """SELECT doc_id, coalesce(array_to_string(list_sort(list_filter(
        |    ['big', 'column', 'join', 'key', 'sort', 'zzzmissing'],
        |    k -> contains(lower(text), k))), ' '), '') AS tags
        |FROM documents""".stripMargin),

    // "Fightin' Words" distinctive terms: Dirichlet-prior log-odds
    // z-scores of en vs rest — the corpus-comparison scorer that beats
    // raw tf-idf at both tails. One vocab-sized count agg + 1-row
    // totals broadcast; lns 6-dp floored (t36 contract), z 4-dp
    ("t46_log_odds_terms",
      (s, sf) => TextOps.logOddsTerms(table(s, sf, "documents"), col("text"),
        col("lang") === "en", alpha = 0.01, minCount = 5, topN = 20),
      """WITH u AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w,
        |    (lang = 'en') AS g
        |  FROM documents WHERE trim(text) <> ''),
        |c AS (SELECT w, SUM(CASE WHEN g THEN 1 ELSE 0 END)::BIGINT AS a,
        |    SUM(CASE WHEN NOT g THEN 1 ELSE 0 END)::BIGINT AS b
        |  FROM u GROUP BY w),
        |t AS (SELECT SUM(a)::BIGINT AS ta, SUM(b)::BIGINT AS tb,
        |    count(*)::BIGINT AS v FROM c)
        |SELECT w AS word, a, b,
        |  floor((floor(ln((a::DOUBLE + 0.01::DOUBLE)
        |      / (ta::DOUBLE + 0.01::DOUBLE * v::DOUBLE - a::DOUBLE - 0.01::DOUBLE))
        |      * 1000000 + 0.5) / 1000000
        |    - floor(ln((b::DOUBLE + 0.01::DOUBLE)
        |      / (tb::DOUBLE + 0.01::DOUBLE * v::DOUBLE - b::DOUBLE - 0.01::DOUBLE))
        |      * 1000000 + 0.5) / 1000000)
        |   / sqrt(1.0::DOUBLE / (a::DOUBLE + 0.01::DOUBLE)
        |        + 1.0::DOUBLE / (b::DOUBLE + 0.01::DOUBLE)) * 1e4 + 0.5) / 1e4 AS z4
        |FROM c, t WHERE a + b >= 5
        |ORDER BY z4 DESC, word ASC LIMIT 20""".stripMargin),

    ("t36_zipf_slope",
      (s, sf) => TextOps.zipfSlope(table(s, sf, "documents"), col("text"), topN = 100),
      """WITH u AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE trim(text) <> ''),
        |c AS (SELECT w, count(*) AS c FROM u GROUP BY w),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w ASC LIMIT 100),
        |xy AS (SELECT floor(ln(rank::DOUBLE) * 1000000 + 0.5) / 1000000 AS x,
        |    floor(ln(c::DOUBLE) * 1000000 + 0.5) / 1000000 AS y
        |  FROM (SELECT w, c, row_number() OVER (ORDER BY c DESC, w ASC) AS rank
        |        FROM top)),
        |m AS (SELECT count(*) AS n_terms,
        |    sum(x::DECIMAL(28,6)) AS sx, sum(y::DECIMAL(28,6)) AS sy,
        |    sum((floor(x * y * 1000000 + 0.5) / 1000000)::DECIMAL(28,6)) AS sxy,
        |    sum((floor(x * x * 1000000 + 0.5) / 1000000)::DECIMAL(28,6)) AS sxx
        |  FROM xy)
        |SELECT n_terms,
        |  floor((n_terms::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS slope6
        |FROM m""".stripMargin),

    // PMI collocation mining (phrase detection): adjacent-pair PMI from
    // exact unigram/bigram counts, min-count floor, 4-dp double
    ("t34_collocations",
      (s, sf) => TextOps.collocations(table(s, sf, "documents"), col("text"), minCount = 3),
      """WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk
        |    FROM documents WHERE trim(text) <> ''),
        |uni AS (SELECT unnest(tk) AS w FROM tk),
        |c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |t AS (SELECT count(*) AS t FROM uni),
        |bi AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
        |  FROM tk WHERE len(tk) >= 2),
        |p AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bi),
        |bt AS (SELECT count(*) AS bt FROM p),
        |c12 AS (SELECT w1, w2, count(*) AS n FROM p
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT w1, w2, n,
        |  floor(ln((n::DOUBLE * t::DOUBLE * t::DOUBLE)
        |    / (bt::DOUBLE * c1a.c::DOUBLE * c1b.c::DOUBLE)) * 10000 + 0.5)
        |    / 10000 AS pmi4
        |FROM c12 JOIN c1 c1a ON c12.w1 = c1a.w
        |         JOIN c1 c1b ON c12.w2 = c1b.w, t, bt""".stripMargin),

    // ---- RDF N-Triples ingestion (reference NTtoDF capability) ----------
    ("nt01_ingest",
      (s, sf) => {
        val path = ntFixture(s, sf)
        NtSource.read(s, path, "http://graft.io/schema/Nation")
          .select(col("name"), col("regionkey"))
      },
      "SELECT n_name AS name, n_regionkey AS regionkey FROM nation"),

    // ---- data-quality constraint suite (Deequ-style admission gate) -----
    // a full declarative check suite — completeness, key uniqueness,
    // range/domain/regex conformance, volume floor — priced at ONE scan +
    // a 1-row reduce (the mixed distinct agg plans a single expand);
    // DuckDB restates each metric as a conditional aggregate and the
    // report as a UNION ALL of constant-shaped rows
    ("dq01_constraint_report",
      (s, sf) => graft.ops.Checks.report(
        table(s, sf, "orders"), Seq(
          graft.ops.Checks.NotNull("o_custkey"),
          graft.ops.Checks.Unique("o_orderkey"),
          graft.ops.Checks.InRange("o_totalprice", 0.0, 300000.0),
          graft.ops.Checks.InSet("o_orderstatus", Seq("O", "F")),
          graft.ops.Checks.MatchesRegex("o_orderpriority", "^[1-3]-"),
          graft.ops.Checks.MinRows(1000L))),
      """WITH m AS (SELECT count(*) AS n,
        |  count(o_custkey) AS nn_cust,
        |  count(o_orderkey) AS nn_key, count(DISTINCT o_orderkey) AS nd_key,
        |  sum(CASE WHEN o_totalprice IS NOT NULL
        |        AND (o_totalprice < 0 OR o_totalprice > 300000)
        |      THEN 1 ELSE 0 END)::BIGINT AS v_price,
        |  sum(CASE WHEN o_orderstatus IS NOT NULL
        |        AND o_orderstatus NOT IN ('O','F')
        |      THEN 1 ELSE 0 END)::BIGINT AS v_status,
        |  sum(CASE WHEN o_orderpriority IS NOT NULL
        |        AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |      THEN 1 ELSE 0 END)::BIGINT AS v_prio
        |  FROM orders)
        |SELECT 'not_null' AS "check", 'o_custkey' AS target,
        |  floor(nn_cust/n*10000+0.5)/10000 AS metric,
        |  n - nn_cust AS violations, nn_cust = n AS passed FROM m
        |UNION ALL SELECT 'unique', 'o_orderkey',
        |  floor(nd_key/nn_key*10000+0.5)/10000, nn_key - nd_key,
        |  nd_key = nn_key FROM m
        |UNION ALL SELECT 'in_range', 'o_totalprice:[0.0,300000.0]',
        |  floor((n - v_price)/n*10000+0.5)/10000, v_price, v_price = 0 FROM m
        |UNION ALL SELECT 'in_set', 'o_orderstatus:{O,F}',
        |  floor((n - v_status)/n*10000+0.5)/10000, v_status, v_status = 0 FROM m
        |UNION ALL SELECT 'matches_regex', 'o_orderpriority:^[1-3]-',
        |  floor((n - v_prio)/n*10000+0.5)/10000, v_prio, v_prio = 0 FROM m
        |UNION ALL SELECT 'min_rows', '>=1000', n::DOUBLE,
        |  greatest(0, 1000 - n), n >= 1000 FROM m""".stripMargin),

    // row-level quarantine extraction for the constraints dq01 flags red:
    // one scan building a per-row array of failed checks, exploded —
    // the clean-row fast path is a codegen'd filter that materializes
    // nothing
    ("dq02_violating_rows",
      (s, sf) => graft.ops.Checks.violations(
        table(s, sf, "orders"), col("o_orderkey"), Seq(
          graft.ops.Checks.InRange("o_totalprice", 0.0, 300000.0),
          graft.ops.Checks.InSet("o_orderstatus", Seq("O", "F")))),
      """SELECT o_orderkey AS row_id, 'in_range' AS "check",
        |  'o_totalprice:[0.0,300000.0]' AS target
        |FROM orders WHERE o_totalprice < 0 OR o_totalprice > 300000
        |UNION ALL
        |SELECT o_orderkey, 'in_set', 'o_orderstatus:{O,F}'
        |FROM orders WHERE o_orderstatus NOT IN ('O','F')""".stripMargin),

    // schema drift between two snapshots (footer-only metadata diff):
    // the fixture plants one added, one removed, one retyped column and
    // the oracle states the expected report verbatim
    // referential integrity: orphan child rows via LEFT ANTI against the
    // distinct parent keys (broadcast when dimension-sized); a %3 hole
    // punched in customer makes real orphans at sf0.01
    ("dq04_fk_orphans",
      (s, sf) => graft.ops.Checks.referentialOrphans(
        table(s, sf, "orders"), col("o_custkey"),
        table(s, sf, "customer")
          .filter(col("c_custkey") % 3 =!= 0), col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey")),
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0)""".stripMargin),

    ("dq03_schema_drift",
      (s, sf) => {
        val derived = TpchLake.derivedDir(sf)
        val v1 = s"$derived/drift_v1"
        val v2 = s"$derived/drift_v2"
        val o = table(s, sf, "orders")
        if (!new java.io.File(s"$v1/_SUCCESS").exists())
          o.select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
            .write.mode("overwrite").parquet(v1)
        if (!new java.io.File(s"$v2/_SUCCESS").exists())
          o.select(col("o_orderkey"),
            col("o_totalprice").cast("string").as("o_totalprice"),
            col("o_orderpriority"))
            .write.mode("overwrite").parquet(v2)
        graft.ops.Checks.schemaDrift(s, v1, v2)
      },
      """SELECT * FROM (VALUES
        |  ('o_orderpriority', 'added', NULL, 'string'),
        |  ('o_orderstatus', 'removed', 'string', NULL),
        |  ('o_totalprice', 'type_changed', 'double', 'string'))
        |  AS t(col_name, change, type_from, type_to)""".stripMargin),

    // Laplace-noised group counts (ε-DP mechanism shape, reproducible-
    // audit mode: inverse-CDF noise from the salted portable hash — the
    // oracle re-derives the identical draw)
    ("pr04_dp_counts",
      (s, sf) => graft.ops.Privacy.dpNoisyCounts(
        table(s, sf, "documents"), col("source"), epsilon = 1.0, salt = "dp1"),
      """WITH c AS (SELECT source AS "group", count(*) AS n_true
        |    FROM documents GROUP BY 1),
        |u AS (SELECT "group", n_true,
        |    ((list_reduce(list_prepend(7::BIGINT, list_transform(
        |      string_split('dp1:' || "group", ''), c -> ord(c)::BIGINT)),
        |      (a, c) -> (a * 257 + c) % 2147483647) % 10000)::DOUBLE + 0.5)
        |      / 10000.0 AS uu
        |  FROM c)
        |SELECT "group", n_true,
        |  floor((n_true::DOUBLE
        |      + (-1.0) * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)))
        |    * 10000 + 0.5) / 10000 AS noisy4
        |FROM u""".stripMargin),

    // t-closeness (ordered EMD): fully integer until ONE final division —
    // |cumCell·N − cumGlobal·cellN| summed as int128, so there is no
    // float cumulative-sum order hazard anywhere; acctbal bucketed to
    // the standard low-cardinality ordered-attribute setting
    ("pr05_t_closeness",
      (s, sf) => graft.ops.Privacy.tClosenessReport(
        table(s, sf, "customer"), Seq(col("c_nationkey")),
        floor(col("c_acctbal").cast("double") / 1000).cast("long"), t = 0.04),
      """WITH base AS (SELECT c_nationkey,
        |    floor(c_acctbal::DOUBLE / 1000)::BIGINT AS v FROM customer),
        |g AS (SELECT v, count(*)::BIGINT AS gcnt FROM base GROUP BY 1),
        |gc AS (SELECT v, sum(gcnt) OVER (ORDER BY v)::BIGINT AS gcum FROM g),
        |st AS (SELECT sum(gcnt)::BIGINT AS n, count(*)::BIGINT AS m FROM g),
        |cells AS (SELECT c_nationkey, count(*)::BIGINT AS n_rows
        |    FROM base GROUP BY 1),
        |cv AS (SELECT c_nationkey, v, count(*)::BIGINT AS ccnt
        |    FROM base GROUP BY 1, 2),
        |grid AS (SELECT cells.c_nationkey, cells.n_rows, gc.v, gc.gcum,
        |    coalesce(cv.ccnt, 0)::BIGINT AS ccnt
        |  FROM cells CROSS JOIN gc
        |  LEFT JOIN cv ON cv.c_nationkey = cells.c_nationkey AND cv.v = gc.v),
        |cum AS (SELECT c_nationkey, n_rows, gcum,
        |    sum(ccnt) OVER (PARTITION BY c_nationkey ORDER BY v)::BIGINT
        |      AS ccum FROM grid),
        |num AS (SELECT c_nationkey, n_rows,
        |    sum(abs(ccum::HUGEINT * (SELECT n FROM st)
        |            - gcum::HUGEINT * n_rows)) AS nm
        |  FROM cum GROUP BY 1, 2)
        |SELECT c_nationkey, n_rows,
        |  floor(nm::DOUBLE / (n_rows::DOUBLE * (SELECT n FROM st)::DOUBLE
        |        * ((SELECT m FROM st) - 1)::DOUBLE) * 1000000 + 0.5) / 1000000
        |    AS emd6
        |FROM num WHERE emd6 > 0.04""".stripMargin),

    // per-group OLS fit (value ~ hour-of-day, per event type): the five
    // moment sums accumulate as exact DECIMAL of 6-dp-floored inputs —
    // bit-identical cross-engine — and only the closed-form slope/
    // intercept/r² arithmetic runs in IEEE doubles (identical op chain
    // restated by the oracle), then 8-dp floors
    ("a25_ols_by_group",
      (s, sf) => graft.ops.Profile.olsByGroup(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("event_type"), hour(col("ts")), col("value")),
      """WITH b AS (SELECT event_type AS grp,
        |    CAST(extract(hour FROM ts) AS DECIMAL(18,6)) AS x,
        |    CAST(floor(value * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS y
        |  FROM events),
        |m AS (SELECT grp, count(*)::BIGINT AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM b GROUP BY 1)
        |SELECT grp, n,
        |  CASE WHEN n >= 2 AND n::DOUBLE * sxx - sx * sx > 0 THEN
        |    floor((n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx)
        |      * 1e8 + 0.5) / 1e8 END AS slope8,
        |  CASE WHEN n >= 2 AND n::DOUBLE * sxx - sx * sx > 0 THEN
        |    floor((sy - (n::DOUBLE * sxy - sx * sy)
        |        / (n::DOUBLE * sxx - sx * sx) * sx) / n::DOUBLE
        |      * 1e8 + 0.5) / 1e8 END AS intercept8,
        |  CASE WHEN n >= 2 AND n::DOUBLE * sxx - sx * sx > 0
        |      AND n::DOUBLE * syy - sy * sy > 0 THEN
        |    floor((n::DOUBLE * sxy - sx * sy) * (n::DOUBLE * sxy - sx * sy)
        |      / ((n::DOUBLE * sxx - sx * sx) * (n::DOUBLE * syy - sy * sy))
        |      * 1e8 + 0.5) / 1e8 END AS r2_8
        |FROM m""".stripMargin),

    // Population Stability Index (view → click value distributions over
    // width-50 bins): the industry drift score next to t38/t26; add-1
    // smoothing over the union grid, per-bin terms 6-dp floored and
    // DECIMAL-summed
    ("a27_psi_drift",
      (s, sf) => graft.ops.Profile.psiDrift(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("event_type") === "view", col("event_type") === "click",
        floor(col("value") / 50).cast("long")),
      """WITH b AS (SELECT floor(value / 50)::BIGINT AS b,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS r,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c
        |  FROM events WHERE event_type IN ('view', 'click')),
        |g AS (SELECT b, sum(r)::BIGINT AS cr, sum(c)::BIGINT AS cc
        |  FROM b GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS nb, sum(cr)::BIGINT AS nr,
        |    sum(cc)::BIGINT AS nc FROM g)
        |SELECT nb AS n_bins, nr AS n_ref, nc AS n_cur,
        |  CAST(sum(CAST(floor(
        |    ((cr + 1)::DOUBLE / (nr + nb)::DOUBLE
        |      - (cc + 1)::DOUBLE / (nc + nb)::DOUBLE)
        |    * ln(((cr + 1)::DOUBLE / (nr + nb)::DOUBLE)
        |        / ((cc + 1)::DOUBLE / (nc + nb)::DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS DOUBLE) AS psi6
        |FROM g, t GROUP BY 1, 2, 3""".stripMargin),

    // two-proportion sample-size calculator (baseline = measured
    // purchase conversion, MDE +2pt absolute): planted z literals,
    // p1 published 6-dp and the formula consumes the PUBLISHED rate
    ("f14_power_analysis",
      (s, sf) => graft.ops.EventAnalytics.powerTwoProportions(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("user_id"), col("event_type") === "purchase", mdeAbs = 0.02),
      """WITH a AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users,
        |    count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |      ::BIGINT AS n_converted FROM events),
        |p AS (SELECT n_users, n_converted,
        |    floor(n_converted::DOUBLE / n_users::DOUBLE * 1000000 + 0.5)
        |      / 1000000 AS p1_6 FROM a)
        |SELECT n_users, n_converted, p1_6, p1_6 + 0.02 AS p2_6,
        |  CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
        |    * (p1_6 * (1.0 - p1_6) + (p1_6 + 0.02) * (1.0 - (p1_6 + 0.02)))
        |    / (0.02 * 0.02)) AS BIGINT) AS n_per_arm
        |FROM p""".stripMargin),

    // degree assortativity of the part-supplier graph: Pearson over
    // endpoint degrees of the doubled edge list, every moment an exact
    // int128 sum, one IEEE division 8-dp floored (bipartite-ish fixture
    // → expect r < 0)
    // community DETECTION to pair with g14's community EVALUATION (r13
    // verdict item 6): 3 rounds of deterministic synchronous LPA over
    // the co-purchase graph (distinct part pairs sharing an order), the
    // emitted partition scored by the same Newman modularity machinery
    // g14 gates — (community, n_nodes, n_edges_in, degree_sum, term8);
    // Σ term8 is the partition's Q. The oracle unrolls all three rounds
    // (synchronous + min-label ties make LPA a pure function of the
    // edge set — layout-independent, unlike async/Louvain sweeps). The
    // Q-beats-trivial-partition property is spec-asserted (OpsSpec)
    ("g16_lpa_communities",
      (s, sf) => {
        val li = table(s, sf, "lineitem")
          .filter(col("l_orderkey") % 7 === 0)
        // pin the co-occurrence projection: LPA and the modularity
        // scorer each consume it, and the pair-generation join must
        // not run twice
        val co = graft.ops.Graph.coOccurrencePairs(
          li, col("l_orderkey"), col("l_partkey"), minShared = 1)
          .localCheckpoint()
        val labels = graft.ops.Graph.labelPropagation(
          co, col("i_a"), col("i_b"), rounds = 3)
        val mod = graft.ops.Graph.modularity(co, col("i_a"), col("i_b"),
          labels, col("node"), col("community"))
        val sizes = labels.groupBy(col("community"))
          .agg(count(lit(1)).as("n_nodes"))
        mod.join(sizes, Seq("community"))
          .select(col("community"), col("n_nodes"), col("n_edges_in"),
            col("degree_sum"), col("term8"))
      },
      lpaSql(3)),

    ("g15_assortativity",
      (s, sf) => graft.ops.Graph.degreeAssortativity(
        table(s, sf, "lineitem")
          .filter(col("l_orderkey") % 11 === 0),
        col("l_partkey"), col("l_suppkey") + 1000000L),
      """WITH e AS (SELECT DISTINCT least(l_partkey, l_suppkey + 1000000) AS u,
        |    greatest(l_partkey, l_suppkey + 1000000) AS v
        |  FROM lineitem
        |  WHERE l_orderkey % 11 = 0 AND l_partkey <> l_suppkey + 1000000),
        |deg AS (SELECT n, count(*)::BIGINT AS d FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |p AS (SELECT a.d AS du, b.d AS dv FROM e
        |  JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v),
        |dd AS (SELECT du AS x, dv AS y FROM p
        |  UNION ALL SELECT dv, du FROM p),
        |m AS (SELECT count(*)::BIGINT AS n2,
        |    sum(x::HUGEINT)::DOUBLE AS sx,
        |    sum(x::HUGEINT * x::HUGEINT)::DOUBLE AS sxx,
        |    sum(x::HUGEINT * y::HUGEINT)::DOUBLE AS sxy
        |  FROM dd),
        |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
        |SELECT (n2 / 2)::BIGINT AS n_edges, n_nodes,
        |  CASE WHEN n2::DOUBLE * sxx - sx * sx > 0 THEN
        |    floor((n2::DOUBLE * sxy - sx * sx)
        |      / (n2::DOUBLE * sxx - sx * sx) * 1e8 + 0.5) / 1e8
        |  END AS r8
        |FROM m, nn""".stripMargin),

    // Benjamini-Hochberg FDR at q = 1/10 over md5-uniform p-values with
    // a planted signal block (every 91st key's p shrinks 2^20×): the
    // step-up comparison runs in exact int128 arithmetic — no float
    // boundary can flip a rejection cross-engine
    ("a29_bh_fdr",
      (s, sf) => {
        val h = Native("graft_md5_prefix52",
          concat(lit("bh:"), col("o_orderkey")))
        val hyp = table(s, sf, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").as("hid"),
            when(col("o_orderkey") % 91 === 0, shiftright(h, 20))
              .otherwise(h).as("p"))
        graft.ops.Profile.benjaminiHochberg(hyp, col("hid"), col("p"),
          qNumer = 1, qDenom = 10)
      },
      """WITH hyp AS (SELECT o_orderkey AS hid,
        |    CASE WHEN o_orderkey % 91 = 0 THEN
        |      ('0x' || substr(md5('bh:' || o_orderkey::VARCHAR), 1, 13))::BIGINT >> 20
        |    ELSE ('0x' || substr(md5('bh:' || o_orderkey::VARCHAR), 1, 13))::BIGINT
        |    END AS p
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |r AS (SELECT p, row_number() OVER (ORDER BY p, hid) AS i,
        |    count(*) OVER () AS m FROM hyp),
        |f AS (SELECT m, i, p FROM r
        |  WHERE p::HUGEINT * m * 10 <= i::HUGEINT * 4503599627370496)
        |SELECT (SELECT max(m) FROM r)::BIGINT AS m,
        |  coalesce((SELECT max(i) FROM f), 0)::BIGINT AS n_rejected,
        |  (SELECT max(p) FROM f)::DOUBLE / 4503599627370496.0 AS p_max_rejected""".stripMargin),

    // Newman modularity of a given labeling (community = node mod 7 on
    // the bipartite part-supplier graph): the partition EVALUATOR —
    // per-community terms are ratios of exact integers, 8-dp floored;
    // Σ term8 is Q
    ("g14_modularity",
      (s, sf) => {
        val e = table(s, sf, "lineitem")
          .filter(col("l_orderkey") % 11 === 0)
          .select(col("l_partkey").as("a"),
            (col("l_suppkey") + 1000000L).as("b"))
        val nodes = e.select(col("a").as("n"))
          .unionAll(e.select(col("b").as("n"))).distinct()
        graft.ops.Graph.modularity(e, col("a"), col("b"),
          nodes, col("n"), col("n") % 7)
      },
      """WITH e AS (SELECT DISTINCT least(l_partkey, l_suppkey + 1000000) AS u,
        |    greatest(l_partkey, l_suppkey + 1000000) AS v
        |  FROM lineitem
        |  WHERE l_orderkey % 11 = 0 AND l_partkey <> l_suppkey + 1000000),
        |m AS (SELECT count(*)::BIGINT AS m FROM e),
        |wc AS (SELECT u % 7 AS cu, v % 7 AS cv FROM e),
        |inc AS (SELECT cu AS community, count(*)::BIGINT AS n_edges_in
        |  FROM wc WHERE cu = cv GROUP BY 1),
        |deg AS (SELECT community, count(*)::BIGINT AS degree_sum FROM (
        |    SELECT cu AS community FROM wc
        |    UNION ALL SELECT cv FROM wc) GROUP BY 1)
        |SELECT deg.community,
        |  coalesce(inc.n_edges_in, 0)::BIGINT AS n_edges_in, deg.degree_sum,
        |  floor((coalesce(inc.n_edges_in, 0)::DOUBLE / (SELECT m FROM m)::DOUBLE
        |    - (deg.degree_sum::DOUBLE / (2.0 * (SELECT m FROM m)))
        |      * (deg.degree_sum::DOUBLE / (2.0 * (SELECT m FROM m))))
        |    * 1e8 + 0.5) / 1e8 AS term8
        |FROM deg LEFT JOIN inc USING (community)""".stripMargin),

    // classical additive seasonal decomposition of the daily event
    // volume: centered 7-day MA trend (full windows only), day-of-week
    // seasonal means of the detrended grid, residual recombines the
    // PUBLISHED floored components — every window runs on the day grid,
    // never the raw log
    ("ts20_seasonal_decompose",
      (s, sf) => graft.ops.EventAnalytics.seasonalDecompose(
        EventStreams.readEvents(s, s"$sf/events.parquet"), col("ts")),
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS y
        |  FROM events GROUP BY 1),
        |t AS (SELECT day, y,
        |    CASE WHEN count(*) OVER w7 = 7 THEN
        |      floor((sum(y) OVER w7)::DOUBLE / 7.0 * 1e6 + 0.5) / 1e6
        |    END AS trend6
        |  FROM daily
        |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d AS (SELECT *, dayofweek(day) AS dow FROM t),
        |s AS (SELECT dow,
        |    floor(CAST(sum(CAST(floor((y - trend6) * 1e6 + 0.5) / 1e6
        |        AS DECIMAL(28,6))) AS DOUBLE) / count(*)::DOUBLE
        |      * 1e6 + 0.5) / 1e6 AS seasonal6
        |  FROM d WHERE trend6 IS NOT NULL GROUP BY 1)
        |SELECT d.day, d.y, d.trend6, s.seasonal6,
        |  CASE WHEN d.trend6 IS NOT NULL AND s.seasonal6 IS NOT NULL THEN
        |    floor((d.y - d.trend6 - s.seasonal6) * 1e6 + 0.5) / 1e6
        |  END AS resid6
        |FROM d LEFT JOIN s USING (dow)""".stripMargin),

    // exact two-sample Kolmogorov-Smirnov (click vs view value
    // distributions): D's numerator is an integer max over the pooled
    // distinct-value CDF table — no bins, no float accumulation; the
    // oracle restates the pooled-ECDF definition verbatim
    ("a26_ks_two_sample",
      (s, sf) => graft.ops.Profile.ksTwoSample(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("event_type") === "click", col("event_type") === "view",
        col("value")),
      """WITH b AS (SELECT value::DOUBLE AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS bb
        |  FROM events WHERE event_type IN ('click', 'view')),
        |g AS (SELECT v, sum(a)::HUGEINT AS ca, sum(bb)::HUGEINT AS cb
        |  FROM b GROUP BY 1),
        |c AS (SELECT
        |    sum(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM g),
        |m AS (SELECT max(na) AS n_a, max(nb) AS n_b,
        |    max(abs(cuma * nb - cumb * na)) AS d_num FROM c)
        |SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, d_num::DOUBLE AS d_num,
        |  floor(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE) * 1e8 + 0.5) / 1e8
        |    AS ks8,
        |  floor(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE)
        |    * sqrt(n_a::DOUBLE * n_b::DOUBLE / (n_a + n_b)::DOUBLE)
        |    * 1e8 + 0.5) / 1e8 AS lambda8
        |FROM m""".stripMargin),

    // Welch's unequal-variance t-test (purchase vs error values): exact
    // decimal (n, Σy, Σy²) per side, fixed IEEE t/dof chain, 6-dp floors
    ("a28_welch_ttest",
      (s, sf) => graft.ops.Profile.welchTTest(
        EventStreams.readEvents(s, s"$sf/events.parquet"),
        col("event_type") === "purchase", col("event_type") === "error",
        col("value")),
      """WITH y AS (SELECT event_type,
        |    CAST(floor(value * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS y
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |a AS (SELECT count(*)::BIGINT AS n_a, CAST(sum(y) AS DOUBLE) AS s_a,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS q_a
        |  FROM y WHERE event_type = 'purchase'),
        |b AS (SELECT count(*)::BIGINT AS n_b, CAST(sum(y) AS DOUBLE) AS s_b,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS q_b
        |  FROM y WHERE event_type = 'error'),
        |m AS (SELECT n_a, n_b,
        |    s_a / n_a::DOUBLE AS ma, s_b / n_b::DOUBLE AS mb,
        |    (q_a - s_a * s_a / n_a::DOUBLE) / (n_a::DOUBLE - 1) / n_a::DOUBLE AS va,
        |    (q_b - s_b * s_b / n_b::DOUBLE) / (n_b::DOUBLE - 1) / n_b::DOUBLE AS vb
        |  FROM a, b)
        |SELECT n_a, n_b,
        |  floor(ma * 1e6 + 0.5) / 1e6 AS mean_a6,
        |  floor(mb * 1e6 + 0.5) / 1e6 AS mean_b6,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0 THEN
        |    floor((ma - mb) / sqrt(va + vb) * 1e6 + 0.5) / 1e6 END AS t6,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0 THEN
        |    floor((va + vb) * (va + vb)
        |      / (va * va / (n_a::DOUBLE - 1) + vb * vb / (n_b::DOUBLE - 1))
        |      * 1e6 + 0.5) / 1e6 END AS dof6
        |FROM m""".stripMargin),

    // incremental rollup maintenance under the e11 CDC batch: the
    // maintained (grp, count, len-sum) rollup — old ⊖ touched-old ⊕
    // surviving-new, never a full rescan — must EQUAL the oracle's
    // from-scratch rollup of the merged table
    // incremental IVF maintenance (the ANN growth path): fit k-means
    // once on the base 90% of the clustered corpus, fold the held-out
    // 10% in via nearest-existing-centroid upsert — one delta-sized
    // scan, NO re-fit — then gate (a) recall@10 ≥ 90% through the
    // UPSERTED index over the FULL corpus (the e10/e12/e13 maintenance
    // contract applied to ANN), (b) the upsert's argmin agrees with an
    // independent exploded-rows formulation, (c) the index covers every
    // corpus row exactly once. Deterministic: seeded k-means on a
    // hash-constructed fixture + exact left-fold distances
    ("e15_ivf_upsert",
      (s, _) => {
        val all = clusteredEmb(s)
        var idx: Similarity.IvfIndex = null
        val verdict = annRecallGateOn(s, all, floorPct = 90) { (corpus, qv) =>
          if (idx == null) {
            val base = corpus.filter(col("vec_id") % 10 =!= 0)
            val delta = corpus.filter(col("vec_id") % 10 === 0)
            idx = Similarity.ivfUpsert(annIvfAuto(base), delta,
              col("vec_id"), col("embedding"))
          }
          annIvfAutoProbe(idx, qv)
        }
        val asg = idx.assigned.cache()
        // ONE aggregation pass over the index for base/delta/coverage
        // counts (was three jobs — r17, guide §1.2: don't pay three
        // scans for one pass's worth of statistics)
        val st = asg.agg(
          count(when(col("vec_id") % 10 =!= 0, 1)).as("nb"),
          count(when(col("vec_id") % 10 === 0, 1)).as("nd"),
          count_distinct(col("vec_id")).as("ncov")).head()
        val nBase = st.getAs[Long]("nb")
        val nDelta = st.getAs[Long]("nd")
        // coverage asserted against an INDEPENDENT corpus count (not the
        // index's own rows, which would mask drops that shift the
        // fixture constants in lockstep): every corpus row, exactly once
        val nCorpus = all.filter(col("vec_id") >= 20).count()
        val covOk = st.getAs[Long]("ncov") == nCorpus &&
          nBase + nDelta == nCorpus
        // independent argmin formulation: explode the centroid list to
        // rows, min-of-struct per vector, compare cluster choices
        val cents = idx.centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
        val centDf = s.createDataFrame(cents).toDF("ci", "cv")
        val alt = all.filter(col("vec_id") >= 20 && col("vec_id") % 10 === 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .crossJoin(broadcast(centDf))
          .select(col("vec_id"),
            struct(aggregate(zip_with(col("v"), col("cv"),
              (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
              .as("d2"), col("ci").as("l")).as("cand"))
          .groupBy(col("vec_id")).agg(min(col("cand")).as("m"))
          .select(col("vec_id"), col("m.l").as("alt_cluster"))
        val agree = asg.filter(col("vec_id") % 10 === 0)
          .join(alt, "vec_id")
          .filter(col("cluster") =!= col("alt_cluster")).count() == 0
        asg.unpersist()
        verdict.select(lit(nBase).as("n_base"), lit(nDelta).as("n_delta"),
          col("n_queries"), col("floor_pct"), col("recall_floor_met"),
          lit(agree).as("assign_agree"), lit(covOk).as("cov_ok"))
      },
      "SELECT 1782::BIGINT AS n_base, 198::BIGINT AS n_delta, " +
        "20 AS n_queries, 90 AS floor_pct, true AS recall_floor_met, " +
        "true AS assign_agree, true AS cov_ok"),

    // incremental IVF ERASURE (the delete half of e15's growth path,
    // closing the e10 upsert+erasure contract for ANN): the maintained
    // index is the pure ivfAssign of the full corpus against the fitted
    // centroids, tombstones (vec_id % 7 = 3, 283 of 1980 rows) are
    // anti-joined out, centroids kept. Gates: (a) recall@10 >= 90%
    // through the SHRUNK index against brute force over the SURVIVING
    // corpus, (b) incremental-with-deletes is row-identical to a
    // from-scratch assignment of the survivors against the same
    // centroids (assignment is per-row pure, so deletion can never move
    // a survivor), (c) no tombstone survives, (d) coverage == an
    // INDEPENDENT survivor count (not the index's own rows)
    ("e16_ivf_delete",
      (s, _) => {
        val all = clusteredEmb(s)
        val surviving = all.filter(col("vec_id") < 20 || col("vec_id") % 7 =!= 3)
        var idx: Similarity.IvfIndex = null
        val verdict = annRecallGateOn(s, surviving, floorPct = 90) { (corpus, qv) =>
          if (idx == null) {
            val full = all.filter(col("vec_id") >= 20)
            // maintained-index construction: centroids from the one-time
            // fit, lists from the pure assignment function (how a
            // persisted-centroid deployment assigns — e15's contract)
            val fit = annIvfAuto(full)
            val base = Similarity.IvfIndex(
              Similarity.ivfAssign(full, col("vec_id"), col("embedding"),
                fit.centroids),
              fit.centroids)
            val deleted = Similarity.ivfDelete(base,
              full.filter(col("vec_id") % 7 === 3), col("vec_id"))
            // pin the shrunk lists: 20 probe queries + the structural
            // comparison all consume them (buildIvf caches its own
            // assignment; a constructed index must pin explicitly)
            idx = Similarity.IvfIndex(deleted.assigned.cache(),
              deleted.centroids)
          }
          annIvfAutoProbe(idx, qv)
        }
        val survCorpus = all.filter(col("vec_id") >= 20 && col("vec_id") % 7 =!= 3)
        val nSurv = survCorpus.count()
        val nCorpus = all.filter(col("vec_id") >= 20).count()
        // ALL structural checks in ONE full-outer comparison pass: the
        // scratch side has exactly one row per survivor, so a dropped,
        // duplicated, or tombstoned index row shows as n_rows != nSurv
        // or a null/mismatched side
        val scratch = Similarity.ivfAssign(survCorpus, col("vec_id"),
            col("embedding"), idx.centroids)
          .select(col("vec_id"), col("cluster").as("s_cluster"))
        val st = idx.assigned.select(col("vec_id"), col("cluster"))
          .join(scratch, Seq("vec_id"), "full_outer")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("cluster").isNull || col("s_cluster").isNull ||
              col("cluster") =!= col("s_cluster"), 1)).as("n_bad"),
            count(when(col("vec_id") % 7 === 3, 1)).as("n_tomb"))
          .head()
        val covOk = st.getAs[Long]("n_rows") == nSurv
        val agree = st.getAs[Long]("n_bad") == 0 && covOk
        val tombOk = st.getAs[Long]("n_tomb") == 0
        verdict.select(lit(nCorpus).as("n_corpus"),
          lit(nCorpus - nSurv).as("n_deleted"), lit(nSurv).as("n_surviving"),
          col("n_queries"), col("floor_pct"), col("recall_floor_met"),
          lit(agree).as("scratch_agree"), lit(tombOk).as("tomb_ok"),
          lit(covOk).as("cov_ok"))
      },
      "SELECT 1980::BIGINT AS n_corpus, 283::BIGINT AS n_deleted, " +
        "1697::BIGINT AS n_surviving, 20 AS n_queries, 90 AS floor_pct, " +
        "true AS recall_floor_met, true AS scratch_agree, " +
        "true AS tomb_ok, true AS cov_ok"),

    // IVF index PERSISTENCE round-trip — the piece that turns the
    // e15/e16 maintenance story from session-bound into a production
    // one: fit on the base corpus, SAVE (parquet lists + centroids),
    // LOAD, run the full maintenance cycle (upsert the delta, delete
    // the tombstones) on the RELOADED index. Gates: (a) centroids
    // round-trip bit-exactly (doubles through parquet), (b) the
    // reloaded-and-maintained lists are row-identical to the same
    // cycle on the never-persisted index AND cover exactly the
    // independently-counted survivors, (c) recall@10 >= 90% probes
    // through the reloaded-and-maintained index
    ("e17_ivf_persist",
      (s, _) => {
        val all = clusteredEmb(s)
        val surviving = all.filter(col("vec_id") < 20 || col("vec_id") % 7 =!= 3)
        var idx: Similarity.IvfIndex = null
        var agree = false
        var centsOk = false
        val verdict = annRecallGateOn(s, surviving, floorPct = 90) { (corpus, qv) =>
          if (idx == null) {
            val full = all.filter(col("vec_id") >= 20)
            val base = full.filter(col("vec_id") % 10 =!= 0)
            val delta = full.filter(col("vec_id") % 10 === 0)
            val tomb = full.filter(col("vec_id") % 7 === 3)
            val fit = annIvfAuto(base)
            val dir = TpchLake.derivedDir("ivf_e17")
            Similarity.saveIvf(fit, dir)
            val reloaded = Similarity.loadIvf(s, dir)
            centsOk = reloaded.centroids.length == fit.centroids.length &&
              reloaded.centroids.zip(fit.centroids)
                .forall { case (a, b) => a.sameElements(b) }
            def cycle(i0: Similarity.IvfIndex) =
              Similarity.ivfDelete(
                Similarity.ivfUpsert(i0, delta, col("vec_id"), col("embedding")),
                tomb, col("vec_id"))
            val maintained = cycle(reloaded)
            val never = cycle(fit)
            // row-identity vs the never-persisted cycle + independent
            // survivor coverage, in ONE full-outer pass (e16 discipline)
            val st = maintained.assigned.select(col("vec_id"), col("cluster"))
              .join(never.assigned
                .select(col("vec_id"), col("cluster").as("n_cluster")),
                Seq("vec_id"), "full_outer")
              .agg(count(lit(1)).as("n_rows"),
                count(when(col("cluster").isNull || col("n_cluster").isNull ||
                  col("cluster") =!= col("n_cluster"), 1)).as("n_bad"))
              .head()
            val nSurv = all.filter(col("vec_id") >= 20 && col("vec_id") % 7 =!= 3)
              .count()
            agree = st.getAs[Long]("n_bad") == 0 &&
              st.getAs[Long]("n_rows") == nSurv
            // pin the shrunk lists for the 20 probes (constructed index
            // — must pin explicitly, the e16 lesson)
            idx = Similarity.IvfIndex(maintained.assigned.cache(),
              maintained.centroids)
          }
          annIvfAutoProbe(idx, qv)
        }
        verdict.select(col("n_queries"), col("floor_pct"),
          col("recall_floor_met"), lit(centsOk).as("cents_roundtrip"),
          lit(agree).as("maintain_agree"))
      },
      "SELECT 20 AS n_queries, 90 AS floor_pct, true AS recall_floor_met, " +
        "true AS cents_roundtrip, true AS maintain_agree"),

    ("e13_rollup_maintain",
      (s, sf) => {
        val d = table(s, sf, "documents").select(col("doc_id"), col("text"))
        val u1 = d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v1")).as("text"),
            lit(1L).as("seq"), lit("U").as("op"))
        val u2 = d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
            lit(2L).as("seq"), lit("U").as("op"))
        val d3 = d.filter(col("doc_id") % 15 === 0)
          .select(col("doc_id"), lit("").as("text"),
            lit(3L).as("seq"), lit("D").as("op"))
        val dr = d.filter(col("doc_id") % 15 === 7)
          .select(col("doc_id"), lit("").as("text"),
            lit(1L).as("seq"), lit("D").as("op"))
        val ir = d.filter(col("doc_id") % 15 === 7)
          .select(col("doc_id"), lit("resurrected").as("text"),
            lit(2L).as("seq"), lit("I").as("op"))
        val changes = u2.unionByName(dr).unionByName(d3)
          .unionByName(u1).unionByName(ir)
        graft.ops.LakeOps.maintainRollup(d, changes, "doc_id", "seq", "op",
          col("doc_id") % 7,
          Seq("len_sum" -> length(col("text")).cast("long")))
      },
      """WITH c AS (
        |  SELECT doc_id, text || ' v1' AS text, 1 AS seq, 'U' AS op
        |    FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, text || ' v2', 2, 'U'
        |    FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id, '', 3, 'D'
        |    FROM documents WHERE doc_id % 15 = 0
        |  UNION ALL SELECT doc_id, '', 1, 'D'
        |    FROM documents WHERE doc_id % 15 = 7
        |  UNION ALL SELECT doc_id, 'resurrected', 2, 'I'
        |    FROM documents WHERE doc_id % 15 = 7),
        |latest AS (SELECT doc_id, text, op FROM (
        |  SELECT doc_id, text, op,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC, op ASC) AS rn
        |  FROM c) WHERE rn = 1),
        |merged AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM latest)
        |  UNION ALL
        |  SELECT doc_id, text FROM latest WHERE upper(op) <> 'D')
        |SELECT doc_id % 7 AS grp, count(*)::BIGINT AS n_rows,
        |  sum(len(text))::BIGINT AS len_sum
        |FROM merged GROUP BY 1""".stripMargin),

    // difference-in-differences on purchase values (treat = odd users,
    // post = second half of the month): the four cell means publish
    // 8-dp-floored from exact DECIMAL sums, and did8 recombines the
    // FLOORED means — hand-auditable from the output row itself
    ("f13_diff_in_diff",
      (s, sf) => graft.ops.EventAnalytics.diffInDiff(
        EventStreams.readEvents(s, s"$sf/events.parquet")
          .filter(col("event_type") === "purchase"),
        col("user_id") % 2 === 1,
        col("ts") >= lit("2024-01-15").cast("timestamp"), col("value")),
      """WITH b AS (SELECT (user_id % 2 = 1) AS t,
        |    (ts >= TIMESTAMP '2024-01-15') AS p,
        |    CAST(floor(value * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) AS y
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT t, p, count(*)::BIGINT AS n,
        |    floor(CAST(sum(y) AS DOUBLE) / count(*)::DOUBLE * 1e8 + 0.5) / 1e8
        |      AS m FROM b GROUP BY 1, 2)
        |SELECT tpre.n AS n_tpre, tpost.n AS n_tpost,
        |  cpre.n AS n_cpre, cpost.n AS n_cpost,
        |  tpre.m AS m_tpre8, tpost.m AS m_tpost8,
        |  cpre.m AS m_cpre8, cpost.m AS m_cpost8,
        |  (tpost.m - tpre.m) - (cpost.m - cpre.m) AS did8
        |FROM (SELECT n, m FROM c WHERE t AND NOT p) tpre,
        |     (SELECT n, m FROM c WHERE t AND p) tpost,
        |     (SELECT n, m FROM c WHERE NOT t AND NOT p) cpre,
        |     (SELECT n, m FROM c WHERE NOT t AND p) cpost""".stripMargin),

    // neighborhood-Jaccard link prediction on the g08 incidence list:
    // the score is a ratio of two INTEGERS (shared groups / union of
    // eligible group-neighborhoods) — zero float accumulation, one
    // division, 8-dp floor
    ("g13_neighbor_jaccard",
      (s, sf) => graft.ops.Graph.neighborJaccard(
        table(s, sf, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minShared = 2),
      """WITH e AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |ok AS (SELECT g FROM (SELECT g, count(*) AS sz FROM e GROUP BY g)
        |  WHERE sz BETWEEN 2 AND 10000),
        |c AS (SELECT e.g, e.i FROM e JOIN ok USING (g)),
        |deg AS (SELECT i, count(*)::BIGINT AS d FROM c GROUP BY 1),
        |p AS (SELECT a.i AS i_a, b.i AS i_b, count(*)::BIGINT AS n_shared
        |  FROM c a JOIN c b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT i_a, i_b, n_shared,
        |  da.d + db.d - n_shared AS n_union,
        |  floor(n_shared::DOUBLE / (da.d + db.d - n_shared)::DOUBLE
        |    * 1e8 + 0.5) / 1e8 AS jacc8
        |FROM p JOIN deg da ON da.i = p.i_a JOIN deg db ON db.i = p.i_b""".stripMargin),

    // MRR + recall@10 per query (binary relevance next to b07's graded
    // NDCG): reproducible ranks (score desc, doc asc), both metrics are
    // single divisions of small integers
    ("b09_mrr_recall",
      (s, sf) => Retrieval.mrrRecallAtK(table(s, sf, "documents"), col("doc_id") % 5,
        col("doc_id"), col("n_chars").cast("double"),
        col("doc_id") % 7 === 0, k = 10),
      """WITH b AS (SELECT doc_id % 5 AS q, doc_id AS d, n_chars::DOUBLE AS s,
        |    (doc_id % 7 = 0) AS r FROM documents),
        |t AS (SELECT q, d, r,
        |    row_number() OVER (PARTITION BY q ORDER BY s DESC, d ASC) AS rk
        |  FROM b)
        |SELECT q AS qid, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN r THEN 1 ELSE 0 END)::BIGINT AS n_rel,
        |  min(CASE WHEN r THEN rk END)::INT AS first_rel_rank,
        |  CASE WHEN sum(CASE WHEN r THEN 1 ELSE 0 END) > 0 THEN
        |    floor(1e8 / min(CASE WHEN r THEN rk END)::DOUBLE + 0.5) / 1e8
        |  END AS rr8,
        |  sum(CASE WHEN r AND rk <= 10 THEN 1 ELSE 0 END)::BIGINT AS hits_at_k,
        |  CASE WHEN sum(CASE WHEN r THEN 1 ELSE 0 END) > 0 THEN
        |    floor(sum(CASE WHEN r AND rk <= 10 THEN 1 ELSE 0 END)::DOUBLE
        |      / sum(CASE WHEN r THEN 1 ELSE 0 END)::DOUBLE * 1e8 + 0.5) / 1e8
        |  END AS recall8
        |FROM t GROUP BY q""".stripMargin),

    // interpolated Kneser-Ney bigram LM quality score (the smoothing
    // real LM filters use where t18 uses add-α): continuation counts
    // from the bigram TYPE table, per-bigram ln-probs 4-dp floored and
    // DECIMAL-summed per doc; corpus = reference so every bigram is
    // seen and the discounted term stays positive
    ("t49_kneser_ney",
      (s, sf) => TextOps.kneserNeyLogProb(table(s, sf, "documents"), col("doc_id"), col("text")),
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)),'\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk)), i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
        |  FROM toks WHERE len(tk) >= 2),
        |pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
        |l AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1pl
        |  FROM c12 GROUP BY 1),
        |r AS (SELECT w2, count(*)::BIGINT AS n1pr FROM c12 GROUP BY 1),
        |bt AS (SELECT count(*)::DOUBLE AS b FROM c12),
        |lp AS (SELECT doc_id,
        |    CAST(floor(ln((c12::DOUBLE - 0.75) / c1::DOUBLE
        |        + 0.75 * n1pl::DOUBLE / c1::DOUBLE
        |          * (n1pr::DOUBLE / (SELECT b FROM bt)))
        |      * 10000 + 0.5) / 10000 AS DECIMAL(28,4)) AS lp4
        |  FROM pairs JOIN c12 USING (w1, w2) JOIN l USING (w1) JOIN r USING (w2)),
        |agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(lp4) AS s4
        |  FROM lp GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
        |  CASE WHEN agg.n_bigrams IS NULL THEN 0.0
        |       ELSE floor(CAST(s4 AS DOUBLE) / agg.n_bigrams * 10000 + 0.5)
        |         / 10000 END AS avg_kn_logprob
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin),

    // Unicode-script histogram with planted Cyrillic/CJK/Arabic tails:
    // counts via identical Java/RE2 codepoint-range classes, BMP-only so
    // UTF-16 and codepoint lengths agree
    ("t51_script_profile",
      (s, sf) => graft.ops.TextOps.scriptProfile(
        table(s, sf, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 4 === 1, lit(" пример текст"))
            .when(col("doc_id") % 4 === 2, lit(" 漢字試験"))
            .when(col("doc_id") % 4 === 3, lit(" مرحبا بكم"))
            .otherwise(lit(""))).as("t")),
        col("doc_id"), col("t")),
      """WITH b AS (SELECT doc_id, text || CASE doc_id % 4
        |    WHEN 1 THEN ' пример текст' WHEN 2 THEN ' 漢字試験'
        |    WHEN 3 THEN ' مرحبا بكم' ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, length(t)::BIGINT AS n_chars,
        |    (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))::BIGINT AS latin,
        |    (length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')))::BIGINT AS cyrillic,
        |    (length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}]', '', 'g')))::BIGINT AS cjk,
        |    (length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')))::BIGINT AS arabic,
        |    (length(t) - length(regexp_replace(t, '[\x{AC00}-\x{D7AF}]', '', 'g')))::BIGINT AS hangul,
        |    (length(t) - length(regexp_replace(t, '[\x{0370}-\x{03FF}]', '', 'g')))::BIGINT AS greek,
        |    (length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))::BIGINT AS digit
        |  FROM b WHERE length(t) > 0)
        |SELECT doc_id, n_chars, latin, cyrillic, cjk, arabic, hangul, greek, digit,
        |  floor(latin::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS latin_r4,
        |  floor(cyrillic::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS cyrillic_r4,
        |  floor(cjk::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS cjk_r4,
        |  floor(arabic::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS arabic_r4,
        |  floor(hangul::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS hangul_r4,
        |  floor(greek::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS greek_r4,
        |  floor(digit::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS digit_r4
        |FROM c""".stripMargin),

    // blocking-scheme audit on a dirty-copy fixture (10% of B rows get a
    // prepended char that moves them out of their 2-char name block):
    // reduction ratio + pairs completeness, all counts exact integers,
    // candidate count from per-block size products — pairs never
    // materialize
    ("er04_blocking_quality",
      (s, sf) => {
        val cust = table(s, sf, "customer")
        val a = cust.select(col("c_custkey").as("ka"), col("c_name"))
        val b = cust.select(col("c_custkey").as("kb"),
          when(col("c_custkey") % 10 === 0, concat(lit("X"), col("c_name")))
            .otherwise(col("c_name")).as("bname"))
        val truth = cust.select(col("c_custkey").as("ta"),
          col("c_custkey").as("tb"))
        graft.ops.Linkage.blockingQuality(
          a, col("ka"), substring(col("c_name"), 1, 2),
          b, col("kb"), substring(col("bname"), 1, 2),
          truth, col("ta"), col("tb"))
      },
      """WITH a AS (SELECT c_custkey AS ka, left(c_name, 2) AS blk FROM customer),
        |b AS (SELECT c_custkey AS kb,
        |    left(CASE WHEN c_custkey % 10 = 0 THEN 'X' || c_name
        |         ELSE c_name END, 2) AS blk FROM customer),
        |cand AS (SELECT coalesce(sum(ca * cb), 0)::DOUBLE AS n_cand FROM (
        |    SELECT blk, count(*)::BIGINT AS ca FROM a GROUP BY 1) x
        |  JOIN (SELECT blk, count(*)::BIGINT AS cb FROM b GROUP BY 1) y
        |  USING (blk)),
        |t AS (SELECT count(*)::BIGINT AS n_truth,
        |    sum(CASE WHEN a.blk = b.blk THEN 1 ELSE 0 END)::BIGINT AS n_covered
        |  FROM a JOIN b ON a.ka = b.kb),
        |s AS (SELECT (SELECT count(*) FROM a)::BIGINT AS n_a,
        |    (SELECT count(*) FROM b)::BIGINT AS n_b)
        |SELECT n_a, n_b, n_cand, n_truth, n_covered,
        |  floor((1.0 - n_cand / (n_a::DOUBLE * n_b::DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS reduction6,
        |  CASE WHEN n_truth > 0 THEN
        |    floor(n_covered::DOUBLE / n_truth::DOUBLE * 1e6 + 0.5) / 1e6
        |  END AS completeness6
        |FROM s, cand, t""".stripMargin),

    // sorted-neighborhood candidate generation (Hernández-Stolfo
    // merge/purge): the blocking complement er04 audits — total-order
    // by (c_name, c_custkey), pair everything within rank distance 5.
    // O(n·w) pairs by construction; the distributed rank comes from
    // repartitionByRange + zipWithIndex (no single-partition window)
    // and neighbors meet through ONE equi-join on the rank bucket.
    // The oracle restates the definition directly: row_number + a
    // rank-distance range join
    ("er05_sorted_neighborhood",
      (s, sf) => graft.ops.Linkage.sortedNeighborhood(
        table(s, sf, "customer"),
        col("c_custkey"), col("c_name"), window = 5),
      """WITH r AS (SELECT c_custkey AS id,
        |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS pos
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b, b.pos - a.pos AS dist
        |FROM r a JOIN r b ON b.pos > a.pos AND b.pos - a.pos <= 5""".stripMargin),

    // Misra-Gries heavy hitters with the theorem-exact mergeable
    // guarantee: the verdict verifies BOTH bound sides in exact integer
    // arithmetic (true·(k+1) vs ĉ·(k+1) + (N−Σĉ)) against exact counts,
    // the above-slack coverage guarantee, and recovery of the planted
    // hitter — invariants that hold under EVERY partition layout even
    // though borderline counter values may differ by merge order
    ("t52_mg_heavy_hitters",
      (s, sf) => {
        val k = 128
        val words = table(s, sf, "documents").select(explode(TextOps.tokens(
          concat(col("text"), lit(" zzheavyhitter zzheavyhitter")))).as("w"))
        val mg = graft.ops.Sketches.mgHeavyHitters(words, col("w"), k)
        val exact = words.groupBy(col("w").as("xitem"))
          .agg(count(lit(1)).as("tc"))
        val stats = mg.agg(sum(col("cnt")).as("sumc"))
          .crossJoin(broadcast(exact.agg(sum(col("tc")).as("n"),
            max(when(col("xitem") === "zzheavyhitter", col("tc"))).as("ptc"))))
        val j = mg.join(exact, col("item") === col("xitem"))
          .crossJoin(broadcast(stats))
        val bounds = j.agg(
          min(col("cnt") <= col("tc")).as("under_ok"),
          min(col("tc") * (k + 1) <= col("cnt") * (k + 1)
            + (col("n") - col("sumc"))).as("upper_ok"))
        // coverage: every item with tc·(k+1) > N − Σĉ must be reported
        val missedHeavy = exact.crossJoin(broadcast(stats))
          .filter(col("tc") * (k + 1) > col("n") - col("sumc"))
          .join(mg, col("xitem") === col("item"), "left_anti")
        val planted = mg.join(stats.select(col("ptc")),
            col("item") === "zzheavyhitter")
        bounds.crossJoin(broadcast(stats.select(col("n").as("n_stream"))))
          .crossJoin(broadcast(missedHeavy.agg(
            (count(lit(1)) === 0).as("coverage_ok"))))
          .crossJoin(broadcast(planted.agg(
            (count(lit(1)) === 1).as("planted_found"))))
          .select(lit(k).as("k"), col("n_stream"), col("under_ok"),
            col("upper_ok"), col("coverage_ok"), col("planted_found"))
      },
      """SELECT 128 AS k,
        |  sum(len(string_split_regex(
        |    lower(trim(text || ' zzheavyhitter zzheavyhitter')), '\s+')))::BIGINT
        |    AS n_stream,
        |  true AS under_ok, true AS upper_ok, true AS coverage_ok,
        |  true AS planted_found
        |FROM documents""".stripMargin),

    // mergeable quantile sketch, learn+query (r13 verdict item 5): the
    // bottom-k coordinated sample (order/layout-independent exact-state
    // alternative to KLL/t-digest — see QuantileSample scaladoc for why
    // arrival-order-dependent compaction can't pass an exact-state
    // cross-engine oracle) per l_returnflag over l_extendedprice, keyed
    // by the table's (orderkey, linenumber) primary key; ONE O(k)-state
    // aggregation pass, p50/p90 read from the sample at exact integer
    // indices, rank error DKW-bounded (spec-measured). The oracle
    // restates the ENTIRE sketch state as ORDER BY (hash, value) LIMIT k
    ("t53_quantile_sketch",
      (s, sf) => graft.ops.Sketches.quantileSketchQuery(
        graft.ops.Sketches.quantileSketchPerGroup(
          table(s, sf, "lineitem"),
          col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey") * 10 + col("l_linenumber"), k = 256, salt = "qs1"),
        Seq(("p50", 1, 2), ("p90", 9, 10))),
      """WITH d AS (SELECT DISTINCT l_returnflag AS scope,
        |    ('0x' || substr(md5('qs1:' || (l_orderkey * 10 + l_linenumber)::VARCHAR),
        |      1, 13))::BIGINT AS h,
        |    l_extendedprice::DOUBLE AS v FROM lineitem),
        |r AS (SELECT scope, h, v,
        |    row_number() OVER (PARTITION BY scope ORDER BY h, v) AS rn FROM d),
        |sm AS (SELECT scope, v FROM r WHERE rn <= 256),
        |mm AS (SELECT scope, count(*)::BIGINT AS m FROM sm GROUP BY 1),
        |rv AS (SELECT scope, v,
        |    row_number() OVER (PARTITION BY scope ORDER BY v) AS rv FROM sm),
        |nn AS (SELECT l_returnflag AS scope, count(*)::BIGINT AS n
        |       FROM lineitem GROUP BY 1),
        |ix AS (SELECT scope, m, 1 + (1 * (m - 1)) // 2 AS i50,
        |              1 + (9 * (m - 1)) // 10 AS i90 FROM mm)
        |SELECT nn.scope, nn.n, 256 AS k, ix.m, a.v AS q_p50, b.v AS q_p90
        |FROM nn JOIN ix USING (scope)
        |JOIN rv a ON a.scope = ix.scope AND a.rv = ix.i50
        |JOIN rv b ON b.scope = ix.scope AND b.rv = ix.i90""".stripMargin),

    // quantile-sketch MERGE (the rollup half of t53): per-month sketches
    // over o_totalprice rolled up to one all-time sketch — by bottom-k
    // union closure the merged state is BIT-IDENTICAL to a from-scratch
    // build over all rows, so the gate emits both paths' (n, m, p50,
    // p90) and the oracle restates a single direct sketch for both rows.
    // At 100 TB only the rollup path runs: per-day states are O(k) each
    // and the merge never re-reads data
    ("e14_quantile_rollup",
      (s, sf) => {
        val k = 128
        val o = table(s, sf, "orders")
        val perMonth = graft.ops.Sketches.quantileSketchPerGroup(
          o, date_format(col("o_orderdate"), "yyyy-MM"),
          col("o_totalprice"), col("o_orderkey"), k, "qsr")
        val merged = graft.ops.Sketches.quantileSketchRollup(
          perMonth, lit("__MERGED__"), k)
        val direct = graft.ops.Sketches.quantileSketchPerGroup(
          o, lit("__DIRECT__"), col("o_totalprice"), col("o_orderkey"), k, "qsr")
        graft.ops.Sketches.quantileSketchQuery(
          merged.unionByName(direct), Seq(("p50", 1, 2), ("p90", 9, 10)))
      },
      """WITH d AS (SELECT DISTINCT
        |    ('0x' || substr(md5('qsr:' || o_orderkey::VARCHAR), 1, 13))::BIGINT AS h,
        |    o_totalprice::DOUBLE AS v FROM orders),
        |r AS (SELECT h, v, row_number() OVER (ORDER BY h, v) AS rn FROM d),
        |sm AS (SELECT v FROM r WHERE rn <= 128),
        |mm AS (SELECT count(*)::BIGINT AS m FROM sm),
        |rv AS (SELECT v, row_number() OVER (ORDER BY v) AS rv FROM sm),
        |nn AS (SELECT count(*)::BIGINT AS n FROM orders),
        |ix AS (SELECT m, 1 + (1 * (m - 1)) // 2 AS i50,
        |              1 + (9 * (m - 1)) // 10 AS i90 FROM mm)
        |SELECT t.scope, nn.n, 128 AS k, ix.m, a.v AS q_p50, b.v AS q_p90
        |FROM (VALUES ('__MERGED__'), ('__DIRECT__')) t(scope)
        |CROSS JOIN nn CROSS JOIN ix
        |JOIN rv a ON a.rv = ix.i50
        |JOIN rv b ON b.rv = ix.i90""".stripMargin),

    // WordPiece greedy longest-match inference against a planted literal
    // vocabulary (the deploy half of t48's merge learning): per-doc
    // piece/UNK counts; the oracle replays the greedy loop per DISTINCT
    // word with a recursive CTE + longest-prefix lateral probe
    ("t50_wordpiece_encode",
      (s, sf) => {
        val enc = graft.ops.Bpe.wordPieceEncode(table(s, sf, "documents"), col("text"), WpVocab)
        enc.select(col("doc_id"),
          size(col("wp_tokens")).cast("long").as("n_pieces"),
          size(filter(col("wp_tokens"),
            p => p === graft.functions.WordPieceEncode.UnknownToken))
            .cast("long").as("n_unk"))
      },
      wordPieceOracleSql(WpVocab)),

    // bucketed fact-dim join: both tables pre-hash-distributed into 8
    // buckets on the customer key (self-provisioned, idempotent per
    // session), joined with broadcast disabled — Catalyst reads the
    // bucket specs and plans the join with ZERO Exchange on either side
    // (plan-guarded in BucketedJoinSpec); content equality is the
    // oracle's plain join
    ("l11_bucketed_join",
      (s, sf) => {
        val derived = TpchLake.derivedDir(sf)
        val tag = new java.io.File(sf).getName.replace('.', '_')
        val ot = s"bucketed_orders_$tag"; val ct = s"bucketed_customer_$tag"
        if (!s.catalog.tableExists(ot))
          graft.ops.Layout.writeBucketed(s, table(s, sf, "orders"),
            s"$derived/bucketed_orders", ot, 8, "o_custkey")
        if (!s.catalog.tableExists(ct))
          graft.ops.Layout.writeBucketed(s, table(s, sf, "customer"),
            s"$derived/bucketed_customer", ct, 8, "c_custkey")
        graft.ops.Layout.bucketedJoin(s, ot, ct, "o_custkey", "c_custkey")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            sum((floor(col("o_totalprice") * 100 + 0.5) / 100)
              .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 2)))
              .cast("double").as("revenue"))
      },
      """SELECT c_mktsegment AS segment, count(*)::BIGINT AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) / 100
        |    AS DECIMAL(38,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin))

  /** Bench-mode overrides for the ANN entries: the s02/s03/s05 gates in
    * the oracle suite run the exact baseline AND the approximate operator
    * 20× each to measure recall — the right correctness check, but a
    * 40-job harness timing, not an operator timing. The bench instead
    * times one invocation of the operator under test (what a user pays
    * per query / per join); the recall gates stay in `queries` and keep
    * gating Verify. */
  val benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s02_ann_lsh_topk" -> ((s, sf) =>
      annLsh(table(s, sf, "embeddings").filter(col("vec_id") =!= 0), queryVec(s, sf))),
    "s03_ann_ivf_topk" -> ((s, sf) =>
      annIvfProbe(annIvfBuild(table(s, sf, "embeddings").filter(col("vec_id") =!= 0)), queryVec(s, sf))),
    "s05_knn_join_ivf" -> ((s, sf) => { val e = table(s, sf, "embeddings"); knnIvf(e, e) }),
    "s06_ann_lsh_clustered" -> ((s, _) =>
      annLsh(clusteredEmb(s).filter(col("vec_id") =!= 0), clusteredQueryVec(s))),
    "s07_ann_ivf_clustered" -> ((s, _) =>
      annIvfAutoProbe(annIvfAuto(clusteredEmb(s).filter(col("vec_id") =!= 0)),
        clusteredQueryVec(s))),
    // the timed data is the sf dir's embedding table (so the sf1 sweep
    // contrasts auto knobs with s05's fixed knobs on identical data); the
    // CONFIGURATION RULE — autoIvfParams — is the same one the s08 gate
    // verifies at ≥90% recall on the clustered fixture
    "s08_knn_join_ivf_auto" -> ((s, sf) => { val e = table(s, sf, "embeddings"); knnIvfAuto(e, e) }),
    // same encode-once-query-many regime for PQ: the codebook fit (16
    // per-subspace KMeans runs) is the INDEX BUILD a user pays once per
    // corpus snapshot, not per query — persisted like s10's codes; the
    // timed unit is one ADC scan + exact re-rank. Gate-identical knobs.
    "s09_pq_topk" -> ((s, sf) => {
      val e = table(s, sf, "embeddings").filter(col("vec_id") =!= 0)
      val dir = s"${TpchLake.derivedDir(sf)}/pq"
      if (!new java.io.File(s"$dir/codes/_SUCCESS").exists())
        Similarity.savePq(Similarity.buildPq(e, col("vec_id"), col("embedding"),
          m = 16, kCode = 16), dir)
      val rerank = math.max(150, (e.count() / 3).toInt)
      Similarity.loadPq(s, dir).topK(queryVec(s, sf), k = 10, rerank = rerank)
    }),
    // the SQ8 number users care about is the ENCODE-ONCE-QUERY-MANY
    // regime: codes persisted to parquet once (build-if-missing, outside
    // honest timing only on the first rep), then the timed unit is one
    // query over the compact codes + exact re-rank — the direct contrast
    // with s01's full-width brute scan. Gate-identical rerank rule.
    "s10_sq8_topk" -> ((s, sf) => {
      val e = table(s, sf, "embeddings").filter(col("vec_id") =!= 0)
      val dir = s"${TpchLake.derivedDir(sf)}/sq8"
      if (!new java.io.File(s"$dir/codes/_SUCCESS").exists())
        Similarity.saveSq8(Similarity.buildSq8(e, col("vec_id"), col("embedding")), dir)
      Similarity.loadSq8(s, dir, e, col("vec_id"), col("embedding"))
        .topKExact(queryVec(s, sf), k = 10)
    }),
    // e16's gate form runs on the sf-INDEPENDENT clustered fixture (its
    // correctness verdict must be identical at every sf), so timing it
    // across scale dirs would measure nothing. The bench form times the
    // operator a deployment pays per delete batch AT CORPUS SCALE: load
    // the persisted index for this sf dir (fitted+saved once — the
    // s09/s10 build-once regime), anti-join the tombstones out, and
    // materialize the shrunk lists. The scale smoke fits e16's alpha on
    // this; the recall/row-identity gate stays in `queries`.
    "e16_ivf_delete" -> ((s, sf) => {
      val e = table(s, sf, "embeddings")
      val dir = s"${TpchLake.derivedDir(sf)}/ivf_bench"
      if (!new java.io.File(s"$dir/assigned/_SUCCESS").exists()) {
        val (nLists, _) = Similarity.autoIvfParams(e.count())
        Similarity.saveIvf(
          Similarity.buildIvf(e, col("vec_id"), col("embedding"), nLists), dir)
      }
      Similarity.ivfDelete(Similarity.loadIvf(s, dir),
        e.filter(col("vec_id") % 7 === 3), col("vec_id")).assigned
    }),
  )

  /** DuckDB twin of [[graft.ops.Similarity.mmrTopK]]: the greedy MMR
    * selection unrolled into `k` stages. Stage i scores every remaining
    * candidate as floor((0.5·rel − 0.5·max sim to the selected set)·10⁶
    * + 0.5)/10⁶ and takes the (score desc, id asc) argmax — exactly the
    * operator's per-step rule, with λ = 0.5 so both engines' (1−λ) is
    * the same exact double. */
  private def mmrOracleSql(k: Int, nCand: Int): String = {
    val stages = (2 to k).map { i =>
      s"""s$i AS (SELECT c.vec_id, c.ev, c.rel,
         |    floor((0.5::DOUBLE * c.rel - 0.5::DOUBLE *
         |      (SELECT max(list_cosine_similarity(c.ev, s.ev)) FROM sel${i - 1} s))
         |      * 1000000 + 0.5) / 1000000 AS m
         |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  ORDER BY m DESC, c.vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1}
         |  UNION ALL SELECT vec_id, ev, rel, m, $i FROM s$i)""".stripMargin
    }
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id, embedding::DOUBLE[] AS ev,
       |    list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS rel
       |  FROM embeddings WHERE vec_id <> 0
       |  ORDER BY rel DESC, vec_id LIMIT $nCand),
       |s1 AS (SELECT vec_id, ev, rel,
       |    floor(0.5::DOUBLE * rel * 1000000 + 0.5) / 1000000 AS m
       |  FROM cand ORDER BY m DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id, ev, rel, m, 1 AS rank FROM s1),
       |""".stripMargin + stages.mkString(",\n") + s"""
       |SELECT rank, vec_id, floor(rel * 1000000 + 0.5) / 1000000 AS rel6,
       |  m AS mmr6 FROM sel$k""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Bpe.learnMerges]]: `k` unrolled stages.
    * Words ride as double-space-joined symbol strings ("  a  b  "), so
    * `replace(s, ' l  r ', ' lr ')` — plain left-to-right non-overlapping
    * replace — implements exactly BPE's greedy merge fold: the pattern
    * consumes one space of each double separator, leaving the boundary
    * intact for a chained disjoint merge ("a a a a" → "aa aa") while an
    * overlapping reuse stays blocked ("a a a" → "aa a"). */
  /** DuckDB twin of [[graft.ops.Bpe.learnWordPieceMerges]]: the BPE
    * replay with the likelihood argmax — per stage a symbol-count CTE
    * joins the pair table and the integer-quantized score
    * (pc·10⁹) // (c_l·c_r) picks the merge. */
  private def wordPieceOracleSql(k: Int): String = {
    val stages = (0 until k).map { i =>
      s"""c$i AS (SELECT u AS sym, sum(cnt)::BIGINT AS sc FROM (
         |    SELECT cnt, unnest(string_split(trim(s, ' '), '  ')) AS u FROM r$i) t
         |  GROUP BY 1),
         |p$i AS (SELECT u.l AS l, u.r AS r, sum(cnt)::BIGINT AS pc
         |  FROM (SELECT cnt, string_split(trim(s, ' '), '  ') AS sy FROM r$i) t,
         |       unnest([{'l': sy[j], 'r': sy[j+1]} FOR j IN range(1, len(sy))]) AS q(u)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT p.l, p.r, p.pc,
         |    (p.pc * 1000000000) // (cl.sc * cr.sc) AS score9
         |  FROM p$i p JOIN c$i cl ON cl.sym = p.l JOIN c$i cr ON cr.sym = p.r
         |  ORDER BY score9 DESC, p.l, p.r LIMIT 1),
         |r${i + 1} AS (SELECT w, cnt, replace(s, ' ' || b$i.l || '  ' || b$i.r || ' ',
         |    ' ' || b$i.l || b$i.r || ' ') AS s FROM r$i, b$i)""".stripMargin
    }
    val unions = (0 until k).map(i =>
      s"SELECT ${i + 1} AS rank, l AS lhs, r AS rhs, pc AS pair_count, score9 FROM b$i")
      .mkString("\nUNION ALL\n")
    """WITH w0 AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)),'\s+')) AS w
      |    FROM documents WHERE trim(text) <> '') GROUP BY w),
      |r0 AS (SELECT w, cnt, '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s FROM w0),
      |""".stripMargin + stages.mkString(",\n") + "\n" + unions
  }

  private def bpeOracleSql(k: Int): String = {
    val stages = (0 until k).map { i =>
      s"""p$i AS (SELECT u.l AS l, u.r AS r, sum(cnt)::BIGINT AS pc
         |  FROM (SELECT cnt, string_split(trim(s, ' '), '  ') AS sy FROM r$i) t,
         |       unnest([{'l': sy[j], 'r': sy[j+1]} FOR j IN range(1, len(sy))]) AS q(u)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |r${i + 1} AS (SELECT w, cnt, replace(s, ' ' || b$i.l || '  ' || b$i.r || ' ',
         |    ' ' || b$i.l || b$i.r || ' ') AS s FROM r$i, b$i)""".stripMargin
    }
    val unions = (0 until k).map(i =>
      s"SELECT ${i + 1} AS rank, l AS lhs, r AS rhs, pc AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    """WITH w0 AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)),'\s+')) AS w
      |    FROM documents WHERE trim(text) <> '') GROUP BY w),
      |r0 AS (SELECT w, cnt, '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s FROM w0),
      |""".stripMargin + stages.mkString(",\n") + "\n" + unions
  }

  /** DuckDB twin of [[graft.ops.Bpe.encode]] at corpus scale: reuse the
    * k merge stages (the final r_k CTE holds every distinct word's fully
    * merged symbol string), join word INSTANCES per doc back to it, and
    * count subword tokens per document. Empty-text docs encode to 0. */
  private def bpeEncodeOracleSql(k: Int): String = {
    val full = bpeOracleSql(k)
    val body = full.substring(0, full.indexOf("\nSELECT 1 AS rank"))
    body + s""",
      |dw AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),'\\s+')) AS w
      |  FROM documents WHERE trim(text) <> ''),
      |pd AS (SELECT dw.doc_id, sum(len(string_split(trim(r$k.s, ' '), '  '))) AS n
      |  FROM dw JOIN r$k USING (w) GROUP BY dw.doc_id)
      |SELECT d.doc_id, coalesce(pd.n, 0)::BIGINT AS n_bpe
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Profile.passAtK]] on the a19 fixture:
    * the k product factors unrolled left-associated, the same IEEE
    * chain the Spark fold builds. */
  private def passAtKOracleSql(k: Int): String = {
    val prod = (0 until k).map(i =>
      s"((n - c - $i)::DOUBLE / (n - $i)::DOUBLE)").mkString(" * ")
    s"""WITH b AS (SELECT user_id % 50 AS task, (event_id % 19 = 0) AS ok
       |  FROM events),
       |g AS (SELECT task, count(*)::BIGINT AS n,
       |    sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS c FROM b GROUP BY 1)
       |SELECT task, n, c,
       |  CASE WHEN n < $k THEN NULL
       |       WHEN n - c < $k THEN 1.0
       |       ELSE floor((1.0 - ($prod)) * 1000000 + 0.5) / 1000000
       |  END AS pass6
       |FROM g""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Profile.bradleyTerry]] on the a20
    * fixture: every MM round unrolled MATERIALIZED with the identical
    * per-term floor8 (IEEE double), exact DECIMAL(28,8) sums, and
    * mean-1 renormalization. */
  private def bradleyTerryOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""d$t AS MATERIALIZED (SELECT p.i,
         |    sum(CASE WHEN ta.theta + tb.theta > 0
         |      THEN (floor(p.n::DOUBLE / (ta.theta + tb.theta) * 100000000 + 0.5) / 100000000)::DECIMAL(28,8)
         |      ELSE 0 END) AS d
         |  FROM p JOIN th${t - 1} ta ON ta.i = p.i JOIN th${t - 1} tb ON tb.i = p.j
         |  GROUP BY p.i),
         |tq$t AS MATERIALIZED (SELECT mo.i,
         |    CASE WHEN coalesce(d$t.d, 0) > 0
         |      THEN floor(coalesce(wins.wi, 0)::DOUBLE / d$t.d::DOUBLE * 100000000 + 0.5) / 100000000
         |      ELSE 0.0 END AS t
         |  FROM models mo LEFT JOIN d$t ON d$t.i = mo.i LEFT JOIN wins ON wins.i = mo.i),
         |th$t AS MATERIALIZED (SELECT i,
         |    CASE WHEN (SELECT sum(t::DECIMAL(28,8)) FROM tq$t) > 0
         |      THEN floor(t * (SELECT m FROM mcount)::DOUBLE / (SELECT sum(t::DECIMAL(28,8)) FROM tq$t)::DOUBLE * 100000000 + 0.5) / 100000000
         |      ELSE 0.0 END AS theta
         |  FROM tq$t)""".stripMargin
    }
    s"""WITH c AS MATERIALIZED (SELECT user_id % 5 AS a, (user_id * 3 + 1) % 5 AS b,
       |    event_id % 10 < 6 + (user_id % 5) - ((user_id * 3 + 1) % 5) AS aw
       |  FROM events WHERE user_id % 5 <> (user_id * 3 + 1) % 5),
       |w AS MATERIALIZED (SELECT CASE WHEN aw THEN a ELSE b END AS wi,
       |    CASE WHEN aw THEN b ELSE a END AS lo, count(*)::BIGINT AS n
       |  FROM c GROUP BY 1, 2),
       |p AS MATERIALIZED (SELECT i, j, sum(n)::BIGINT AS n FROM (
       |    SELECT wi AS i, lo AS j, n FROM w
       |    UNION ALL SELECT lo AS i, wi AS j, n FROM w) GROUP BY 1, 2),
       |wins AS (SELECT wi AS i, sum(n)::BIGINT AS wi FROM w GROUP BY 1),
       |models AS (SELECT DISTINCT i FROM p),
       |mcount AS (SELECT count(*)::BIGINT AS m FROM models),
       |th0 AS (SELECT i, 1.0::DOUBLE AS theta FROM models),
       |""".stripMargin + rounds.mkString(",\n") + s"""
       |SELECT i AS model, theta AS theta8 FROM th$iters""".stripMargin
  }

  /** One unrolled Viterbi pass (CTE list) for the unigram-LM oracles:
    * `maxWordLen` DP stages (`d{s}_i` picks the argmax split for the
    * first i characters under vocab `v`, ties score DESC then j ASC),
    * the union `dp{s}`, the backpointer walk `k{s}_t`, and the piece
    * stream `seg{s}`. */
  private def unigramPassCtes(s: Int, v: String, L: Int,
      maxWordLen: Int): Seq[String] = {
    val sc = graft.ops.UnigramLm.Scale
    val dps = (1 to maxWordLen).map { i =>
      val branches = (math.max(0, i - L) until i).map(j =>
        s"SELECT w, best, $j AS j FROM d${s}_$j WHERE len(w) >= $i")
        .mkString(" UNION ALL ")
      s"""d${s}_$i AS MATERIALIZED (
         |  SELECT w, sc AS best, j AS bp FROM (
         |    SELECT w, sc, j, ROW_NUMBER() OVER (PARTITION BY w ORDER BY sc DESC, j ASC) AS rn
         |    FROM (
         |      SELECT dj.w, dj.j,
         |        dj.best * (COALESCE(v.q, CASE WHEN $i - dj.j = 1 THEN 1 END)::DOUBLE / $sc.0) AS sc
         |      FROM ($branches) dj
         |      LEFT JOIN $v v ON v.piece = substr(dj.w, dj.j + 1, $i - dj.j)
         |    ) WHERE sc IS NOT NULL
         |  ) WHERE rn = 1)""".stripMargin
    }
    val dpu = (1 to maxWordLen).map(i =>
      s"SELECT w, $i AS i, best, bp FROM d${s}_$i").mkString(" UNION ALL ")
    val walks = (1 to maxWordLen).map { t =>
      s"""k${s}_$t AS MATERIALIZED (
         |  SELECT p.w, p.cnt, d.bp AS i, substr(p.w, d.bp + 1, p.i - d.bp) AS piece
         |  FROM k${s}_${t - 1} p JOIN dp$s d ON d.w = p.w AND d.i = p.i
         |  WHERE p.i > 0)""".stripMargin
    }
    val segu = (1 to maxWordLen).map(t =>
      s"SELECT w, cnt, piece FROM k${s}_$t").mkString(" UNION ALL ")
    (s"d${s}_0 AS (SELECT w, CAST(1.0 AS DOUBLE) AS best, 0 AS bp FROM w0)" +:
      dps) ++
      Seq(s"dp$s AS MATERIALIZED (SELECT * FROM ($dpu))",
        s"k${s}_0 AS (SELECT w, cnt, len(w) AS i FROM w0)") ++
      walks :+ s"seg$s AS MATERIALIZED (SELECT * FROM ($segu))"
  }

  /** DuckDB twin of [[graft.ops.UnigramLm.learn]]: the FULL training
    * run unrolled — seed quantization, `emIters + pruneRounds` hard-EM
    * passes (each a `maxWordLen`-stage Viterbi DP + backpointer walk),
    * and the linear prune schedule. Probabilities are integer
    * billionths; DP scores are IEEE double products of q/1e9, ties
    * `ORDER BY score DESC, j ASC` = the Spark side's ascending-j
    * strict-greater fold. Every CTE is MATERIALIZED (the dp stages are
    * multiply referenced — plain CTEs would inline exponentially). */
  private def unigramOracleSql(L: Int = 4, seedSize: Int = 80,
      vocabSize: Int = 30, emIters: Int = 2, pruneRounds: Int = 2,
      maxWordLen: Int = 12): String = {
    val sc = graft.ops.UnigramLm.Scale
    def passCtes(s: Int, v: String) = unigramPassCtes(s, v, L, maxWordLen)
    def emUpdate(s: Int, v: String, nextV: String): Seq[String] = Seq(
      s"u$s AS MATERIALIZED (SELECT piece, sum(cnt) AS u FROM seg$s GROUP BY piece)",
      s"""$nextV AS MATERIALIZED (
         |  SELECT piece, CASE WHEN len(piece) = 1 THEN greatest(q, 1) ELSE q END AS q FROM (
         |    SELECT vv.piece, CAST(COALESCE(uu.u, 0) * $sc // (SELECT sum(u) FROM u$s) AS BIGINT) AS q
         |    FROM $v vv LEFT JOIN u$s uu USING (piece))
         |  WHERE len(piece) = 1 OR q > 0)""".stripMargin)
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""w0 AS MATERIALIZED (SELECT w, count(*) AS cnt FROM (
         |  SELECT unnest(string_split_regex(lower(trim(text)),'\\s+')) AS w
         |  FROM documents WHERE trim(text) <> '') WHERE len(w) BETWEEN 1 AND $maxWordLen GROUP BY w)""".stripMargin,
      s"""sub AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS c FROM (
         |  SELECT unnest(flatten([[substr(w, i, l) FOR l IN range(1, least($L, len(w) - i + 1) + 1)] FOR i IN range(1, len(w) + 1)])) AS piece, cnt
         |  FROM w0) GROUP BY piece)""".stripMargin,
      s"""seed AS MATERIALIZED (
         |  SELECT piece, c FROM sub WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, c FROM (SELECT piece, c FROM sub WHERE len(piece) > 1 ORDER BY c DESC, piece ASC LIMIT $seedSize))""".stripMargin,
      s"""v0 AS MATERIALIZED (
         |  SELECT piece, CASE WHEN len(piece) = 1 THEN greatest(q, 1) ELSE q END AS q FROM (
         |    SELECT piece, CAST(c::HUGEINT * $sc // (SELECT sum(c)::HUGEINT FROM seed) AS BIGINT) AS q FROM seed)
         |  WHERE len(piece) = 1 OR q > 0)""".stripMargin)
    var cur = "v0"; var s = 0
    for (_ <- 1 to emIters) {
      ctes ++= passCtes(s, cur); ctes ++= emUpdate(s, cur, s"v${s + 1}")
      cur = s"v${s + 1}"; s += 1
    }
    ctes += s"m0 AS (SELECT count(*) AS m FROM $cur WHERE len(piece) > 1)"
    for (r <- 1 to pruneRounds) {
      ctes += s"""pv$r AS MATERIALIZED (
         |  SELECT piece, q FROM $cur WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, q FROM (
         |    SELECT piece, q, ROW_NUMBER() OVER (ORDER BY q DESC, piece ASC) AS rn
         |    FROM $cur WHERE len(piece) > 1)
         |  WHERE rn <= greatest($vocabSize, (SELECT m FROM m0) - $r * greatest(0, ((SELECT m FROM m0) - $vocabSize + $pruneRounds - 1) // $pruneRounds)))""".stripMargin
      ctes ++= passCtes(s, s"pv$r"); ctes ++= emUpdate(s, s"pv$r", s"v${s + 1}")
      cur = s"v${s + 1}"; s += 1
    }
    "WITH " + ctes.mkString(",\n") + s"\nSELECT piece, q FROM $cur"
  }

  /** DuckDB twin of learn + [[graft.ops.UnigramLm.encodeCounts]]:
    * reuse the whole training derivation, run ONE more unrolled
    * segmentation pass under the final vocabulary, and join per-word
    * piece counts back to word instances per document. */
  /** Fixed WordPiece vocabulary for the t50 encode gate: full ASCII
    * letter/digit singles (start + `##` continuation forms) so ordinary
    * words always segment, plus multi-char pieces that exercise the
    * longest-match-first rule; punctuation stays OUT so words carrying
    * it exercise the whole-word-[UNK] contract. */
  // lazy: referenced from oracleSuite's eager construction, which runs
  // before this point of the object body initializes
  private lazy val WpVocab: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) ++
      (('a' to 'z') ++ ('0' to '9')).map(c => s"##$c") ++
      Seq("the", "in", "re", "an", "er", "on", "at", "or", "data",
        "spark", "stream", "##ing", "##ed", "##er", "##es", "##ion",
        "##s", "##e", "##d", "##am", "##ta")

  /** DuckDB twin of [[graft.ops.Bpe.wordPieceEncode]] + the t50 count
    * reduction: the greedy longest-match loop replays per DISTINCT word
    * as a recursive CTE whose step consumes one piece (a lateral probe
    * picks the LONGEST vocab prefix at the cursor; no match → the whole
    * word is one [UNK], the reference WordPiece contract), then joins
    * back to the per-doc word explode. */
  private def wordPieceOracleSql(vocab: Seq[String]): String = {
    val vlist = vocab.map(v => s"'$v'").mkString(", ")
    s"""WITH RECURSIVE toks AS (SELECT doc_id,
       |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
       |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS tk
       |  FROM documents),
       |words AS (SELECT doc_id, unnest(tk) AS w FROM toks),
       |dw AS (SELECT DISTINCT w FROM words),
       |step(w, n, pos, np, unk, done) AS (
       |    SELECT w, len(w), 0::BIGINT, 0::BIGINT,
       |      len(w) > 100, len(w) > 100
       |    FROM dw
       |  UNION ALL
       |    SELECT w, n,
       |      CASE WHEN l IS NULL THEN n ELSE pos + l END,
       |      CASE WHEN l IS NULL THEN 0 ELSE np + 1 END,
       |      l IS NULL,
       |      l IS NULL OR pos + l >= n
       |    FROM (SELECT s.*,
       |        list_max(list_filter(range(1, (s.n - s.pos + 1)::INT),
       |          ll -> list_contains([$vlist],
       |            (CASE WHEN s.pos > 0 THEN '##' ELSE '' END)
       |              || substr(s.w, (s.pos + 1)::INT, ll::INT)))) AS l
       |      FROM step s WHERE NOT s.done)),
       |enc AS (SELECT w,
       |    CASE WHEN unk THEN 1 ELSE np END AS np,
       |    CASE WHEN unk THEN 1 ELSE 0 END AS nu
       |  FROM step WHERE done),
       |agg AS (SELECT doc_id, sum(e.np)::BIGINT AS n_pieces,
       |    sum(e.nu)::BIGINT AS n_unk
       |  FROM words JOIN enc e USING (w) GROUP BY 1)
       |SELECT d.doc_id, coalesce(agg.n_pieces, 0)::BIGINT AS n_pieces,
       |  coalesce(agg.n_unk, 0)::BIGINT AS n_unk
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  private def unigramEncodeOracleSql(L: Int = 4, seedSize: Int = 80,
      vocabSize: Int = 30, emIters: Int = 2, pruneRounds: Int = 2,
      maxWordLen: Int = 12): String = {
    val full = unigramOracleSql(L, seedSize, vocabSize, emIters, pruneRounds, maxWordLen)
    val sFin = emIters + pruneRounds
    val vFin = s"v$sFin"
    val body = full.substring(0, full.lastIndexOf("\nSELECT piece, q FROM"))
    val extra = unigramPassCtes(sFin, vFin, L, maxWordLen)
    body + ",\n" + extra.mkString(",\n") + s""",
      |pc AS (SELECT w, count(*)::BIGINT AS pc FROM seg$sFin GROUP BY w),
      |dwq AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),'\\s+')) AS w
      |  FROM documents WHERE trim(text) <> ''),
      |pd AS (SELECT dwq.doc_id, sum(pc.pc) AS n FROM dwq JOIN pc USING (w) GROUP BY dwq.doc_id)
      |SELECT d.doc_id, coalesce(pd.n, 0)::BIGINT AS n_unigram
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin
  }

  /** DuckDB twin of learn + [[graft.ops.UnigramLm.docBitsPerChar]]:
    * the encode derivation's final segmentation pass, piece nats from
    * 6-dp-rounded ln(q/1e9) against the final vocab (UNK floor pinned
    * at -20.723266), exact DECIMAL sums per word then per doc, one
    * 4-dp-floored double division at the end. */
  private def unigramBpcOracleSql(L: Int = 4, seedSize: Int = 80,
      vocabSize: Int = 30, emIters: Int = 2, pruneRounds: Int = 2,
      maxWordLen: Int = 12): String = {
    val full = unigramOracleSql(L, seedSize, vocabSize, emIters, pruneRounds, maxWordLen)
    val sFin = emIters + pruneRounds
    val vFin = s"v$sFin"
    val body = full.substring(0, full.lastIndexOf("\nSELECT piece, q FROM"))
    val extra = unigramPassCtes(sFin, vFin, L, maxWordLen)
    body + ",\n" + extra.mkString(",\n") + s""",
      |lp AS (SELECT piece,
      |  (floor(ln(q::DOUBLE / ${graft.ops.UnigramLm.Scale}.0) * 1000000 + 0.5) / 1000000)::DECIMAL(28,6) AS lp
      |  FROM $vFin),
      |ws AS (SELECT w,
      |    sum(COALESCE(lp.lp, (-20.723266)::DECIMAL(28,6))) AS nats,
      |    count(*)::BIGINT AS pc
      |  FROM seg$sFin s LEFT JOIN lp USING (piece) GROUP BY w),
      |dwq AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),'\\s+')) AS w
      |  FROM documents WHERE trim(text) <> ''),
      |pd AS (SELECT dwq.doc_id, sum(ws.pc) AS n, sum(ws.nats) AS nats,
      |    sum(len(dwq.w))::BIGINT AS nch
      |  FROM dwq JOIN ws USING (w) GROUP BY dwq.doc_id)
      |SELECT d.doc_id, coalesce(pd.n, 0)::BIGINT AS n_pieces,
      |  CASE WHEN pd.nch > 0 THEN
      |    floor((-pd.nats::DOUBLE / 0.6931471805599453) / pd.nch::DOUBLE * 10000 + 0.5) / 10000
      |  END AS bpc4
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin
  }

  /** Deterministic NT file derived from the nation table (idempotent). */
  private def ntFixture(s: SparkSession, sf: String): String =
    graft.fixtures.TpchLake.ntFixture(s, sf)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    oracleSuite.map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    oracleSuite.map { case (n, _, o) => n -> o }.toMap
}
