package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link analysis over edge tables — the graph-shaped signal a corpus
  * pipeline wants from its reference structure (host link graphs for
  * crawl-quality priors, citation graphs, user↔item interaction
  * graphs). Complements [[Dedup.connectedComponents]] (membership)
  * with CENTRALITY.
  *
  * PageRank here is the fixed-iteration power method, expressed as T
  * rounds of (edge ⋈ rank) → per-destination sum — each round ONE
  * key-shuffled aggregation of contribution scalars (never vectors,
  * never the edge payload twice), the exact shape GraphX's Pregel
  * compiles to, with Catalyst handling the join strategy per round.
  * Determinism discipline: the per-destination contribution sum is
  * the only order-sensitive reduction. Each term is quantized to
  * 10⁻¹² units by IEEE multiply + floor — BIT-identical on any
  * engine, unlike a double→DECIMAL cast, whose engine-specific
  * conversion path the round-9 sf0.1 sweep caught diverging by one
  * last-place unit on one of 16,600 seeded ranks — then summed
  * exactly as integers in DECIMAL(38,0) and divided back in one IEEE
  * op. Every remaining operation is row-local IEEE, so T iterations
  * produce bit-identical ranks under any partitioning — and on any
  * engine, which is what lets a full differential oracle exist for
  * an iterative algorithm (the ≤10⁻¹²-per-term floor bias is
  * deterministic and far below ranking resolution).
  *
  * Scale accounting per iteration: one shuffle of |E| (src-keyed
  * join; AQE may broadcast the rank side while it fits — rank rows
  * are node-sized scalars) + one map-side-combined |E|→|V| sum. T is
  * fixed and small; there is no driver-side convergence collect in
  * the loop (callers wanting convergence checks can diff successive
  * rank frames themselves — one extra action, outside this
  * operator's contract).
  */
object Graph {

  /** Fixed-iteration damped PageRank over a DIRECTED edge list
    * (symmetrize for undirected graphs). Nodes = every id appearing
    * as src or dst; zero-degree (dangling) nodes receive rank but
    * redistribute none — the standard leaky variant; add reverse
    * edges or self-loops if mass conservation matters.
    *
    * Returns (node, out_deg, rank) after `iters` rounds — (node,
    * w_deg, rank) when weighted. The options compose:
    *
    *  - `weightCol`: WEIGHTED PageRank — rank splits over out-edges
    *    proportionally to edge weight (rank · w / w_deg instead of
    *    rank / out_deg). Weights are edge MULTIPLICITIES, cast to long
    *    (a fractional weight truncates toward zero — the weighted
    *    [[louvain]] convention), so an integer-weighted edge behaves
    *    exactly like w parallel unit edges. Non-negativity is
    *    VALIDATED (one one-row aggregate over the truncated edges): a
    *    negative multiplicity would silently corrupt every rank.
    *  - `start(node, rank)`: WARM start — the crawl-delta restart from
    *    a previous rank vector, which reaches the moved fixed point in
    *    far fewer rounds than a cold start (SCALING.md, "PageRank
    *    warm-start: measured rounds saved"). Nodes absent from `start`
    *    begin at the cold start value; rows for departed nodes are
    *    ignored. Exact-replay law (GraphSpec asserts it): on an
    *    unchanged graph, `pageRank(e, T2, start = pageRank(e, T1))` is
    *    BIT-IDENTICAL to `pageRank(e, T1 + T2)`.
    *  - `seeds(node)`: PERSONALIZED PageRank — teleport mass returns
    *    only to the seed set instead of uniformly (the TrustRank
    *    quality-propagation shape). Seeds absent from the graph are
    *    ignored; nodes unreachable from any seed legitimately score 0.
    *
    * Each node carries its teleport term and start value as columns:
    * (1−d)/N and 1/N, or (1−d)/ns and 1/ns on the ns seeds and 0
    * elsewhere. The per-term 10⁻¹² quantization + DECIMAL(38,0) exact
    * sum (see the object doc) gives every variant a full unrolled
    * oracle ([[pageRankSql]], [[pageRankWarmSql]],
    * [[personalizedPageRankSql]], [[pageRankWeightedSql]]). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               weightCol: Option[String] = None,
               start: Option[DataFrame] = None,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val degCol = if (weightCol.isEmpty) "out_deg" else "w_deg"
    // Iterative lineage discipline (the [[Dedup.connectedComponents]]
    // pattern, and the reason this is not a naive loop): rank_{t+1}
    // references rank_t TWICE (directly and through its contribution
    // aggregate), so an untruncated loop doubles the plan — and the
    // edge-derivation scans — every round (2^T blowup; the first
    // plan dump of this operator carried 120 scans at T=3). The edge
    // frame is truncated once and each round's rank frame truncates
    // before the next builds on it, with superseded checkpoint files
    // rotated away in reliable mode.
    val e = Checkpointing.truncate(edges.select(
      Seq(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")) ++
        weightCol.map(w => col(w).cast("long").as("w")): _*))
    if (weightCol.isDefined) {
      val minW = e.agg(min(col("w"))).head().get(0)
      require(minW == null || minW.asInstanceOf[Long] >= 0L,
        s"edge weights must be non-negative multiplicities, found min $minW")
    }
    val deg = e.groupBy(col("src").as("node")).agg(
      (if (weightCol.isEmpty) count(lit(1)) else sum(col("w"))).as(degCol))
    val graph = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .join(deg, Seq("node"), "left")
      .withColumn(degCol, coalesce(col(degCol), lit(0L)))
    // N (or ns) rides along as a broadcast one-row aggregate
    val nodes = seeds match {
      case None =>
        graph.crossJoin(broadcast(graph.agg(count(lit(1)).as("__n"))))
          .select(col("node"), col(degCol),
            (lit(1.0 - damping) / col("__n")).as("__tele"),
            (lit(1.0) / col("__n")).as("__r0"))
      case Some(sd) =>
        val seeded = graph
          .join(sd.select(col("node").cast("long").as("node")).distinct()
            .withColumn("__seed", lit(true)), Seq("node"), "left")
          .withColumn("__seed", coalesce(col("__seed"), lit(false)))
        seeded.crossJoin(broadcast(
            seeded.agg(sum(col("__seed").cast("long")).as("__ns"))))
          .select(col("node"), col(degCol),
            when(col("__seed"), lit(1.0 - damping) / col("__ns"))
              .otherwise(lit(0.0)).as("__tele"),
            when(col("__seed"), lit(1.0) / col("__ns"))
              .otherwise(lit(0.0)).as("__r0"))
    }
    val init = start match {
      case None => nodes.withColumnRenamed("__r0", "rank")
      case Some(st) => nodes
        .join(st.select(col("node").cast("long").as("node"),
          col("rank").as("__s0")), Seq("node"), "left")
        .select(col("node"), col(degCol), col("__tele"),
          coalesce(col("__s0"), col("__r0")).as("rank"))
    }
    var ranks = Checkpointing.truncate(init)
    for (_ <- 1 to iters) {
      val share = ranks.where(col(degCol) > 0)
        .select(col("node").as("src"), (col("rank") / col(degCol)).as("__c"))
      val term = if (weightCol.isEmpty) col("__c") else col("__c") * col("w")
      val contribs = e.join(share, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg((sum(floor(term * lit(1.0e12)).cast("long")
            .cast(DecimalType(38, 0)))
          .cast("string").cast("double") / lit(1.0e12)).as("__s"))
      val prev = ranks
      ranks = Checkpointing.truncate(ranks
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col(degCol), col("__tele"),
          (col("__tele") + lit(damping) * coalesce(col("__s"), lit(0.0)))
            .as("rank")))
      Checkpointing.release(prev) // superseded round's stable files
    }
    ranks.select(col("node"), col(degCol), col("rank"))
  }

  /** DuckDB twin of a cold-then-warm history: `coldIters` rounds over
    * `eb` (the base graph), then `warmIters` rounds over `e` (the
    * grown graph) starting from the cold result — the ENTIRE two-phase
    * run unrolled. `baseEdgesCte` must define `eb(src, dst)`,
    * `unionEdgesCte` must define `e(src, dst)` (it may reference CTEs
    * of the base chain). */
  def pageRankWarmSql(baseEdgesCte: String, unionEdgesCte: String,
                      coldIters: Int, warmIters: Int,
                      damping: Double = 0.85): String = {
    require(coldIters >= 1 && warmIters >= 1)
    val dsum = "CAST(CAST(SUM(CAST(CAST(floor(r.rank / r.out_deg * " +
      "1000000000000.0) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) " +
      "AS DOUBLE) / 1000000000000.0"
    val cold = (1 to coldIters).map { t =>
      s"""ca$t AS (
         |  SELECT e.dst AS node, $dsum AS s
         |  FROM eb e JOIN cr${t - 1} r ON e.src = r.node AND r.out_deg > 0
         |  GROUP BY 1
         |), cr$t AS (
         |  SELECT n.node, n.out_deg,
         |         ${1.0 - damping} / (SELECT n FROM nnb) +
         |           $damping * COALESCE(a.s, 0.0) AS rank
         |  FROM nodes_b n LEFT JOIN ca$t a ON a.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    val warm = (1 to warmIters).map { t =>
      s"""wa$t AS (
         |  SELECT e.dst AS node, $dsum AS s
         |  FROM e JOIN wr${t - 1} r ON e.src = r.node AND r.out_deg > 0
         |  GROUP BY 1
         |), wr$t AS (
         |  SELECT n.node, n.out_deg,
         |         ${1.0 - damping} / (SELECT n FROM nn) +
         |           $damping * COALESCE(a.s, 0.0) AS rank
         |  FROM nodes_u n LEFT JOIN wa$t a ON a.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $baseEdgesCte,
       |deg_b AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS od
       |          FROM eb GROUP BY 1),
       |nodes_b AS (
       |  SELECT v.node, COALESCE(d.od, 0) AS out_deg
       |  FROM (SELECT src AS node FROM eb UNION SELECT dst FROM eb) v
       |  LEFT JOIN deg_b d ON d.node = v.node
       |),
       |nnb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes_b),
       |cr0 AS (SELECT node, out_deg, 1.0 / (SELECT n FROM nnb) AS rank
       |        FROM nodes_b),
       |$cold,
       |$unionEdgesCte,
       |deg_u AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS od
       |          FROM e GROUP BY 1),
       |nodes_u AS (
       |  SELECT v.node, COALESCE(d.od, 0) AS out_deg
       |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) v
       |  LEFT JOIN deg_u d ON d.node = v.node
       |),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes_u),
       |wr0 AS (
       |  SELECT n.node, n.out_deg,
       |         COALESCE(c.rank, 1.0 / (SELECT n FROM nn)) AS rank
       |  FROM nodes_u n LEFT JOIN cr$coldIters c ON c.node = n.node
       |),
       |$warm
       |SELECT node, out_deg, rank FROM wr$warmIters""".stripMargin
  }

  /** DuckDB twin of [[personalizedPageRank]] (`edgesCte` defines
    * e(src, dst); `seedsCte` defines seeds(node)). */
  def personalizedPageRankSql(edgesCte: String, seedsCte: String,
                              iters: Int, damping: Double = 0.85): String = {
    require(iters >= 1)
    val dsum = "CAST(CAST(SUM(CAST(CAST(floor(r.rank / r.out_deg * " +
      "1000000000000.0) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) " +
      "AS DOUBLE) / 1000000000000.0"
    val tele = s"CASE WHEN n.seed THEN ${1.0 - damping} / " +
      "(SELECT n FROM ns) ELSE 0.0 END"
    val rounds = (1 to iters).map { t =>
      s"""a$t AS (
         |  SELECT e.dst AS node, $dsum AS s
         |  FROM e JOIN r${t - 1} r ON e.src = r.node AND r.out_deg > 0
         |  GROUP BY 1
         |), r$t AS (
         |  SELECT n.node, n.out_deg,
         |         $tele + $damping * COALESCE(a.s, 0.0) AS rank
         |  FROM nodes n LEFT JOIN a$t a ON a.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |$seedsCte,
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS od
       |        FROM e GROUP BY 1),
       |nodes AS (
       |  SELECT v.node, COALESCE(d.od, 0) AS out_deg,
       |         sd.node IS NOT NULL AS seed
       |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) v
       |  LEFT JOIN deg d ON d.node = v.node
       |  LEFT JOIN (SELECT DISTINCT node FROM seeds) sd ON sd.node = v.node
       |),
       |ns AS (SELECT CAST(SUM(CASE WHEN seed THEN 1 ELSE 0 END) AS BIGINT)
       |       AS n FROM nodes),
       |r0 AS (SELECT node, out_deg, seed,
       |       CASE WHEN seed THEN 1.0 / (SELECT n FROM ns)
       |            ELSE 0.0 END AS rank
       |       FROM nodes),
       |$rounds
       |SELECT node, out_deg, rank FROM r$iters""".stripMargin
  }

  /** DuckDB twin of [[pageRank]]: the same T rounds unrolled as a CTE
    * chain (`edgesCte` must define relation e(src, dst)). */
  def pageRankSql(edgesCte: String, iters: Int,
                  damping: Double = 0.85): String = {
    require(iters >= 1)
    val dsum = "CAST(CAST(SUM(CAST(CAST(floor(r.rank / r.out_deg * " +
      "1000000000000.0) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) " +
      "AS DOUBLE) / 1000000000000.0"
    val rounds = (1 to iters).map { t =>
      s"""a$t AS (
         |  SELECT e.dst AS node, $dsum AS s
         |  FROM e JOIN r${t - 1} r ON e.src = r.node AND r.out_deg > 0
         |  GROUP BY 1
         |), r$t AS (
         |  SELECT n.node, n.out_deg,
         |         ${1.0 - damping} / (SELECT n FROM nn) +
         |           $damping * COALESCE(a.s, 0.0) AS rank
         |  FROM nodes n LEFT JOIN a$t a ON a.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS od
       |        FROM e GROUP BY 1),
       |nodes AS (
       |  SELECT v.node, COALESCE(d.od, 0) AS out_deg
       |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) v
       |  LEFT JOIN deg d ON d.node = v.node
       |),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, out_deg, 1.0 / (SELECT n FROM nn) AS rank
       |       FROM nodes),
       |$rounds
       |SELECT node, out_deg, rank FROM r$iters""".stripMargin
  }

  /** Synchronous label-propagation communities (LPA): every node
    * starts labeled with its own id; each round it adopts the label
    * MOST FREQUENT among its in-neighbors (ties to the smallest
    * label; nodes with no in-edges keep theirs). Unlike
    * [[Dedup.connectedComponents]]' hash-min (membership = reachable
    * set), frequency voting finds DENSE communities inside one
    * component — the crawl-graph use is host clustering where
    * everything is weakly connected but neighborhoods matter.
    * Callers symmetrize `edges` for the undirected reading.
    *
    * Everything is INTEGER arithmetic (labels, vote counts) and the
    * per-node argmax is the total order (count desc, label asc), so T
    * synchronous rounds are bit-portable with no decimal machinery —
    * the full unrolled-CTE differential oracle exists for free
    * ([[labelPropagationSql]]).
    *
    * Scale per round: one |E| src-keyed join carrying (dst, lbl)
    * pairs, one map-side-combined (node, lbl) count, one node-sized
    * argmax, one node-keyed carry join. Fixed T, no driver collect;
    * same per-round lineage truncation + checkpoint rotation as
    * [[pageRank]] (rank_{t+1} references rank_t twice).
    */
  /** Per-node triangle counts + local clustering coefficient — the
    * transitivity readout of a co-occurrence graph (how clique-like a
    * node's neighborhood is: the community-density signal next to
    * [[louvain]]'s memberships). Input edges may be directed,
    * duplicated, or self-looped; they canonicalize to simple
    * undirected (a < b) pairs first.
    *
    * Scale design — DEGREE ORIENTATION, the standard trick that makes
    * distributed triangle counting survive skew: each undirected edge
    * points at its (degree, id)-larger endpoint, so every wedge is
    * enumerated at its (degree, id)-SMALLEST corner and per-node
    * oriented out-degree is O(√m) on any graph — a celebrity node
    * with a million co-occurrences never enumerates a quadratic
    * wedge set (the naive smallest-ID orientation does exactly that
    * when a low-id node is a hub). Each triangle is counted once
    * (its corners are totally ordered by (degree, id)); the closing
    * check is one left-semi join of wedges against the oriented edge
    * set. Two shuffles total beyond the degree count.
    *
    * Returns (node, degree, n_triangles, clustering) with
    * clustering = 2·T / (deg·(deg−1)) (0 for deg < 2) — exact
    * integers plus one IEEE multiply/divide pair, so the whole
    * result is engine-portable. */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleStatsCore(Checkpointing.truncateSer(edges
      .select(col(srcCol).cast("long").as("__x"),
        col(dstCol).cast("long").as("__y"))
      .where(col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("a"),
        greatest(col("__x"), col("__y")).as("b"))
      .distinct()))

  /** [[triangleStats]] over an ALREADY-CANONICAL edge frame `e(a, b)`
    * — the [[GraphState]] init/rebuild path, where the maintained
    * edges table is canonical by construction and a re-distinct would
    * be a wasted |E| exchange. */
  private[ops] def triangleStatsCore(e: DataFrame): DataFrame = {
    // |E|-scaled wedge-join parallelism (round-13): at the session
    // default (cluster-sized, 32 on local[32]) the x32 sweep leg's
    // per-task sort/spill-merge working sets genuinely exhausted the
    // 8g heap (read-ahead buffers during the merge of many spill
    // files) where 128 partitions ran green — so the wedge-stage
    // inputs repartition to max(base, |E|/150k), capped at 1024. The
    // count is one cheap job over the just-checkpointed edge frame;
    // at fixture scale p == base and the plan is byte-identical.
    val p = wedgeParts(e.sparkSession, e.count())
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a→b when (deg_a, a) < (deg_b, b); a < b already, so the
    // tie case stays a→b
    val o = Checkpointing.truncateSer(e
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("u"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("v"),
        when(col("__da") <= col("__db"), col("__db")).otherwise(col("__da"))
          .as("dv")))
    def scaled(df: DataFrame, keys: Seq[String]): DataFrame =
      if (p > sessionParts(df.sparkSession)) df.repartition(p, keys.map(col): _*)
      else df
    val wedges = scaled(o.select(col("u"), col("v").as("v1"),
        col("dv").as("__d1")), Seq("u"))
      .join(scaled(o.select(col("u"), col("v").as("v2"),
        col("dv").as("__d2")), Seq("u")), Seq("u"))
      .where(col("__d1") < col("__d2") ||
        (col("__d1") === col("__d2") && col("v1") < col("v2")))
    val tri = scaled(wedges, Seq("v1", "v2")).join(
      scaled(o.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2")),
      Seq("v1", "v2"), "left_semi")
    val corners = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
  }

  private def sessionParts(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Wedge-stage partition count: the session default (cluster-sized)
    * until |E|/150k exceeds it, capped at 1024 — the measured green
    * line for the x32 sweep leg at the default heap. */
  private def wedgeParts(spark: org.apache.spark.sql.SparkSession,
                         m: Long): Int =
    math.min(1024L, math.max(sessionParts(spark).toLong, m / 150000L)).toInt

  /** Mirror of [[triangleStats]] for the DuckDB oracle — the oracle
    * enumerates triangles by the plain a<b<c three-way join (a
    * different, simpler plan; identical result set is the check).
    * `edgesCte` must define `e(a, b)` — canonical simple undirected
    * pairs, a < b. `nodeAs` renames the node column. */
  def triangleStatsSql(edgesCte: String, nodeAs: String = "node"): String =
    s"""WITH $edgesCte,
       |dg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY 1
       |), tr AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
       |), cn AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT x AS node FROM tr
       |    UNION ALL SELECT y FROM tr
       |    UNION ALL SELECT z FROM tr)
       |  GROUP BY 1
       |)
       |SELECT d.node AS $nodeAs, d.deg AS degree,
       |       CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_triangles,
       |       CASE WHEN d.deg >= 2
       |            THEN 2.0 * coalesce(c.n_tri, 0) / (d.deg * (d.deg - 1))
       |            ELSE 0.0 END AS clustering
       |FROM dg d LEFT JOIN cn c ON c.node = d.node""".stripMargin

  /** Graph-native PROFILE over the maintained (edges, stats) pair
    * (round-14 verdict stretch #8 — the q96/q97/q120 profiling family
    * pointed at graph state): degree histogram, exact per-degree mean
    * clustering, and the degree-assortativity coefficient, computed
    * from ONE scan of the stats table plus one |E| degree join — no
    * triangle or wedge work recurs, which is the point of keeping the
    * pair maintained ([[GraphState]]): reports read state.
    *
    * Portability: the histogram is exact integers; per-degree mean
    * clustering collapses to ONE double division of exact integers
    * (within a degree bucket every node shares the d(d−1) denominator,
    * so avg(2T/(d(d−1))) = 2·ΣT / (n·d·(d−1)) — no float sum);
    * assortativity is Pearson r over the symmetrized endpoint-degree
    * pairs, its four sufficient statistics exact decimal sums rendered
    * to portable doubles (the [[Tables.dsum]] string route), then
    * combined in a fixed IEEE order — every value engine-identical
    * ([[degreeProfileSql]]). NULL assortativity on a degree-regular
    * graph (zero variance).
    *
    * `stats` is [[triangleStats]]' shape (node, degree, n_triangles,
    * …); `edges` the canonical pairs (a, b). Returns one row per
    * distinct degree: (degree, n_nodes, sum_triangles,
    * mean_clustering, assortativity — constant across rows). */
  def degreeProfile(stats: DataFrame, edges: DataFrame): DataFrame = {
    val dec = DecimalType(18, 0)
    val hist = stats.groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"),
        sum("n_triangles").as("sum_triangles"))
    val deg = stats.select(col("node"), col("degree"))
    val endp = edges
      .join(deg.select(col("node").as("a"), col("degree").as("__ja")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("__jb")), Seq("b"))
    val jk = endp.select(col("__ja").as("j"), col("__jb").as("k"))
      .unionAll(endp.select(col("__jb").as("j"), col("__ja").as("k")))
    val ass = jk.agg(
        count(lit(1)).cast("double").as("m"),
        sum((col("j") * col("k")).cast(dec)).cast("string").cast("double")
          .as("sjk"),
        sum(col("j").cast(dec)).cast("string").cast("double").as("sj"),
        sum((col("j") * col("j")).cast(dec)).cast("string").cast("double")
          .as("sj2"))
      .select(
        (col("m") * col("sjk") - col("sj") * col("sj")).as("__num"),
        (col("m") * col("sj2") - col("sj") * col("sj")).as("__den"))
      .select(when(col("__den") === 0.0, lit(null).cast("double"))
        .otherwise(col("__num") / col("__den")).as("assortativity"))
    hist.crossJoin(broadcast(ass))
      .select(col("degree"), col("n_nodes"), col("sum_triangles"),
        when(col("degree") >= 2,
          (lit(2.0) * col("sum_triangles")) /
            (col("n_nodes") * col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("mean_clustering"),
        col("assortativity"))
      .orderBy("degree")
  }

  /** DuckDB twin of [[degreeProfile]] composed over the
    * [[triangleStatsSql]] internals: `edgesCte` must define `e(a, b)`
    * — the canonical simple pair set. */
  def degreeProfileSql(edgesCte: String): String =
    s"""WITH $edgesCte,
       |dg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY 1
       |), tr AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
       |), cn AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT x AS node FROM tr
       |    UNION ALL SELECT y FROM tr
       |    UNION ALL SELECT z FROM tr)
       |  GROUP BY 1
       |), stats AS (
       |  SELECT d.node, d.deg AS degree,
       |         CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_triangles
       |  FROM dg d LEFT JOIN cn c ON c.node = d.node
       |), prof AS (
       |  SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(sum(n_triangles) AS BIGINT) AS sum_triangles
       |  FROM stats GROUP BY 1
       |), jk AS (
       |  SELECT da.deg AS j, db.deg AS k
       |  FROM e JOIN dg da ON da.node = e.a JOIN dg db ON db.node = e.b
       |  UNION ALL
       |  SELECT db.deg, da.deg
       |  FROM e JOIN dg da ON da.node = e.a JOIN dg db ON db.node = e.b
       |), ag AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS m,
       |         CAST(CAST(SUM(CAST(j * k AS DECIMAL(18,0))) AS VARCHAR)
       |              AS DOUBLE) AS sjk,
       |         CAST(CAST(SUM(CAST(j AS DECIMAL(18,0))) AS VARCHAR)
       |              AS DOUBLE) AS sj,
       |         CAST(CAST(SUM(CAST(j * j AS DECIMAL(18,0))) AS VARCHAR)
       |              AS DOUBLE) AS sj2
       |  FROM jk
       |), asst AS (
       |  SELECT CASE WHEN (m * sj2 - sj * sj) = 0.0 THEN NULL
       |              ELSE (m * sjk - sj * sj) / (m * sj2 - sj * sj)
       |         END AS assortativity
       |  FROM ag
       |)
       |SELECT p.degree, p.n_nodes, p.sum_triangles,
       |       CASE WHEN p.degree >= 2
       |            THEN (2.0 * p.sum_triangles)
       |                 / (p.n_nodes * p.degree * (p.degree - 1))
       |            ELSE 0.0 END AS mean_clustering,
       |       a.assortativity
       |FROM prof p CROSS JOIN asst a
       |ORDER BY 1""".stripMargin

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Checkpointing.truncate(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
    var labels = Checkpointing.truncate(
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
        .withColumn("lbl", col("node")))
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.select(col("node").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("node")
        .agg(min(struct((-col("__c")).as("nc"), col("lbl").as("l")))
          .as("__w"))
        .select(col("node"), col("__w.l").as("__new"))
      val prev = labels
      labels = Checkpointing.truncate(
        labels.join(votes, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__new"), col("lbl")).as("lbl")))
      Checkpointing.release(prev)
    }
    labels
  }

  /** Community detection — the Louvain local-move phase (Blondel et
    * al. 2008, "Fast unfolding of communities in large networks")
    * made DETERMINISTIC and engine-portable, the corpus-clustering
    * companion to [[labelPropagation]] (LPA maximizes neighbor
    * agreement; this maximizes MODULARITY, the standard
    * topic/domain-grouping objective for mixture design).
    *
    * Determinism (the known Louvain blocker is sweep-order
    * sensitivity) is solved the way the catalog always solves it —
    * canonical schedule + exact arithmetic:
    *
    *  - SYNCHRONOUS rounds, two regimes, both sweep-order-free
    *    (every node decides simultaneously against the round-(t−1)
    *    assignment):
    *    the first level (base nodes) runs the FINE regime —
    *    in round t only nodes with `node % 2 == t % 2` may move,
    *    either label direction, no global guard: at base-node
    *    granularity simultaneous collisions wash out (measured: the
    *    guarded whole-round scheme stalls the bipartite purchase
    *    graph at singletons — one round's 100 movers piling onto
    *    shared targets make every all-or-nothing round net-negative,
    *    while unguarded fine rounds find the same 22 communities
    *    the operator has produced since it shipped).
    *    the CONTRACTED levels (`levels > 1`) run the COARSE
    *    regime — alternating-direction label rounds (odd t: only
    *    smaller labels; even t: only larger — swaps impossible
    *    within a round, and alternation removes the one-directional
    *    deadlock a planted K5's bridge vertex measured) PLUS a
    *    whole-round acceptance guard: the proposal is kept only if
    *    the exact integer modularity Q·(2m)² strictly improves, so
    *    at coarse levels Q is non-decreasing BY CONSTRUCTION (the
    *    hill-climbing invariant GraphSpec asserts — synchronous
    *    super-node chain-merges measurably overshot without it).
    *    The accept/revert is a column CASE over two one-row
    *    aggregates, replayed verbatim by the oracle.
    *  - EXACT integer gain comparison: moving node i (degree k_i)
    *    from community a to b improves modularity iff
    *    `k_{i→b} − k_i·Σtot(b)/2m  >  k_{i→a\i} − k_i·(Σtot(a)−k_i)/2m`.
    *    Multiplied through by 2m this is a pure-integer comparison
    *    `2m·k_{i→c} − k_i·Σtot'(c)` — computed in DECIMAL(38,0)
    *    (HUGEINT in the oracle), so there is no float in the
    *    decision path and the argmax is bit-identical on any engine
    *    and any partitioning.
    *  - Tie-breaks: highest gain, then SMALLEST candidate community
    *    id; strict improvement only (gain equal to staying ⇒ stay).
    *
    * One round costs one |E| shuffle (edge ⋈ assignment, partial-agg
    * to (node, neighbor-community) weights) plus community-table-
    * sized joins — the q203 lineage discipline (truncate + release)
    * keeps the T-round plan linear. Input edges must be SYMMETRIZED
    * (both directions present).
    *
    *  - `weightCol = None`: unit edges; self-loops are dropped and
    *    parallel rows count as multiplicities.
    *  - `weightCol = Some(w)`: `w` must be a non-negative integral
    *    column (co-occurrence counts, contracted multi-edge
    *    multiplicities), cast to long. Self-loop rows are KEPT: they
    *    count in degrees and 2m but never attract moves (their weight
    *    travels with the node, so it cancels out of the gain argmax) —
    *    the convention the contracted levels rely on.
    *  - `levels > 1`: the FULL "fast unfolding" — the local-move phase
    *    alternated with community CONTRACTION (Blondel et al.'s phase
    *    2): each contraction collapses every community to one
    *    super-node (intra-community weight becomes the super-node's
    *    self-loop, inter-community weights sum into super-edges; 2m
    *    and the degree total are preserved exactly, so modularity is
    *    the SAME objective at every level), then `iters` local-move
    *    rounds rerun on the super-graph, whose merges are exactly what
    *    single-level moves cannot express (a whole community re-homing
    *    at once). The expansion back to base nodes is a
    *    label-composition join per level; contraction is pure
    *    exact-integer aggregation, so the whole run stays
    *    deterministic and oracle-replayable.
    *
    * Returns (node, community) over BASE nodes, from singleton start.
    * Communities are labeled by one member's node id (not
    * canonicalized to min-member — callers wanting canonical labels
    * re-label with a min-over-community, as the catalog query does).
    * The warm start and the stability stop are parameters of the
    * [[louvainLevel]] core (the [[GraphState]] community pair's
    * path). */
  def louvain(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int, weightCol: Option[String] = None,
              levels: Int = 1): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(levels >= 1, s"levels must be >= 1, got $levels")
    var e = louvainEdges(edges, srcCol, dstCol, weightCol)
    var assign = louvainLevel(e, iters, coarse = false)._1 // base node → current label
    var lastUp = assign // THIS level's node id → current label
    for (_ <- 2 to levels) {
      val eC = Checkpointing.truncate(e
        .join(lastUp.select(col("node").as("src"),
          col("community").as("__cs")), Seq("src"))
        .join(lastUp.select(col("node").as("dst"),
          col("community").as("__cd")), Seq("dst"))
        .groupBy(col("__cs").as("src"), col("__cd").as("dst"))
        .agg(sum("w").as("w")))
      val up = louvainLevel(eC, iters, coarse = true)._1
      val prev = assign
      assign = Checkpointing.truncate(assign
        .select(col("node"), col("community").as("__c"))
        .join(up.select(col("node").as("__c"), col("community")),
          Seq("__c"))
        .select(col("node"), col("community")))
      Checkpointing.release(prev)
      lastUp = up
      e = eC
    }
    assign
  }

  /** [[louvain]]'s input normalization to (src, dst, w): unit edges
    * drop self-loops and weigh 1; weighted edges keep every row. */
  private[graft] def louvainEdges(edges: DataFrame, srcCol: String,
                                  dstCol: String,
                                  weightCol: Option[String]): DataFrame = {
    val ends = Seq(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    weightCol match {
      case None => edges.select(ends: _*)
        .where(col("src") =!= col("dst"))
        .withColumn("w", lit(1L))
      case Some(w) => edges.select(ends :+ col(w).cast("long").as("w"): _*)
    }
  }

  /** [[louvainLevel]] (optionally warm) over an ALREADY-CANONICAL
    * edge frame `e(a, b)` (symmetrized internally) — the [[GraphState]]
    * community pair's init/rebuild/advance path, where the input is
    * canonical by construction and must not pay a re-canonicalization.
    * Runs under the stability stop. */
  private[ops] def louvainCanon(canon: DataFrame, iters: Int,
                                seed: Option[DataFrame]): DataFrame =
    louvainLevel(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
        .withColumn("w", lit(1L)),
      iters, coarse = false, seed = seed, stopAtStable = true)._1

  /** Community-assignment advance over an ALREADY-CANONICAL previous
    * edge set — the maintained-state path
    * ([[GraphState.advanceCommState]]): fold the fresh delta into the
    * stored canonical edges (broadcast-probed, zero |E| shuffle —
    * [[advanceTriangleCore]]'s discipline), then re-run at most
    * `iters` warm parity rounds seeded from the previous assignment
    * under [[louvainLevel]]'s stability stop. The advance is
    * a pure function of (new edge set, previous assignment), which is
    * exactly what survives a crash between the pair's two swaps — so
    * the recovery rebuild is bit-identical to the uncrashed advance
    * (stronger than the triangle pair's recount fallback, whose view
    * is a function of edges alone). Returns (newEdges, newComm) as
    * unmaterialized plans. */
  private[ops] def advanceCommCore(prevComm: DataFrame, oldE: DataFrame,
                                   canD: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val (d, _) = freshDelta(oldE, canD)
    val newE = Checkpointing.truncateSer(oldE.unionAll(d))
    (newE, louvainCanon(newE, iters, seed = Some(prevComm)))
  }

  /** One local-move level over a WEIGHTED symmetrized edge frame
    * (src, dst, w) — the core every Louvain path runs. Self-loop rows
    * — the contracted form's internal weight — count in degrees and 2m
    * (the standard convention that keeps modularity the same objective
    * across levels) but never in k_{i→c}: a node's own internal weight
    * moves WITH it, so it cancels out of the gain argmax.
    *
    *  - `seed(node, community)`: WARM start (the warm [[pageRank]]
    *    posture applied to community detection) — the fine rounds
    *    start from a PREVIOUS assignment instead of singletons, so
    *    after a crawl delta lands, communities the delta doesn't touch
    *    re-stabilize in zero moves and only the delta's neighborhood
    *    re-settles (GraphScaleSweep's comm row measures the rounds
    *    saved). Graph nodes absent from the seed enter as singletons;
    *    seed rows off the graph drop. Only cm0 differs from the cold
    *    run, so a whole warm history replays in the oracle
    *    ([[louvainWarmChainSql]]) bit-identically.
    *  - `stopAtStable`: fine rounds stop early once two consecutive
    *    rounds (one per parity class) move zero nodes — from such a
    *    state every later round is provably a no-op (same state + same
    *    parity ⇒ same argmax), so an oracle that unrolls all `iters`
    *    rounds stays bit-identical whether or not the stop fires.
    *
    * Returns (assignment, rounds actually run) — with the stop,
    * `iters − rounds` is the warm start's measured saving. */
  private[graft] def louvainLevel(edges: DataFrame, iters: Int,
                                  coarse: Boolean,
                                  seed: Option[DataFrame] = None,
                                  stopAtStable: Boolean = false): (DataFrame, Int) = {
    val dec = DecimalType(38, 0)
    val e = Checkpointing.truncate(edges)
    val eNoSelf = e.where(col("src") =!= col("dst"))
    // weighted degree k_i (self-loops included) and the 2m scalar
    val deg = Checkpointing.truncate(
      e.groupBy(col("src").as("node")).agg(sum(col("w")).as("k")))
    val m2Row = deg.agg(sum(col("k")).cast(dec).as("__m2"))
    // cm0: singletons, or the warm seed (graph nodes absent from the
    // seed enter as singletons; seed rows off the graph drop).
    // truncateFresh throughout the comm chain: the per-round plan
    // references comm ~9 times, so carried checkpoint stats would
    // compound as 9^round and freeze PLANNING (see truncateFresh) —
    // a caller-provided seed can arrive pre-inflated the same way.
    var comm = Checkpointing.truncateFresh(seed match {
      case None => deg.select(col("node"), col("node").as("c"))
      case Some(sd) => deg.select(col("node"))
        .join(sd.select(col("node"), col("community").as("__sc")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__sc"), col("node")).as("c"))
    })
    // exact integer modularity Q·(2m)² of an assignment — one row
    def qint(cm: DataFrame) = {
      val ein = e
        .join(cm.select(col("node").as("src"), col("c").as("__cs")),
          Seq("src"))
        .join(cm.select(col("node").as("dst"), col("c").as("__cd")),
          Seq("dst"))
        .where(col("__cs") === col("__cd"))
        .groupBy(col("__cs").as("c")).agg(sum("w").as("ein"))
      cm.join(deg, Seq("node")).groupBy("c").agg(sum("k").as("stot"))
        .join(ein, Seq("c"), "left")
        .crossJoin(broadcast(m2Row))
        .agg(sum(col("__m2") * coalesce(col("ein"), lit(0L)).cast(dec) -
          col("stot").cast(dec) * col("stot").cast(dec)).as("q"))
    }
    def qOf(df: DataFrame): java.math.BigDecimal =
      Option(df.head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var qCur: java.math.BigDecimal =
      if (coarse) qOf(qint(comm)) else java.math.BigDecimal.ZERO
    var t = 0
    var stableStreak = 0
    var stopped = false
    while (t < iters && !stopped) {
      t += 1
      // k_{i→c}: weight from each node to each neighboring community
      val kic = eNoSelf
        .join(comm.select(col("node").as("dst"), col("c")), Seq("dst"))
        .groupBy(col("src").as("node"), col("c"))
        .agg(sum(col("w")).as("kic"))
      // Σtot(c): total degree inside each community
      val stot = comm.join(deg, Seq("node"))
        .groupBy("c").agg(sum("k").as("stot"))
      // Candidates are the kic rows ALONE (round-15 optimization): the
      // former shape unioned a zero-kic "stay" row per node into kic
      // and re-aggregated the whole (node, c) frame through a second
      // |kic|-sized exchange, only so the own-community gain existed
      // for nodes without a same-community neighbor. The stay gain is
      // instead computed by a node-sized LEFT join against kic at
      // (node, own c) with kic coalesced to 0 — exactly the value the
      // zero-row produced (identical DECIMAL(38,0) arithmetic, so the
      // argmax — and the oracle equality — is untouched), minus one
      // full exchange per round.
      val scored = kic
        .join(comm.withColumnRenamed("c", "__own"), Seq("node"))
        .join(deg, Seq("node"))
        .join(stot, Seq("c"))
        .crossJoin(broadcast(m2Row))
        .withColumn("__stotx",
          when(col("c") === col("__own"), col("stot") - col("k"))
            .otherwise(col("stot")))
        .withColumn("__gain",
          col("__m2") * col("kic").cast(dec) -
            col("k").cast(dec) * col("__stotx").cast(dec))
      val own = comm
        .join(kic.withColumnRenamed("kic", "__kown"), Seq("node", "c"), "left")
        .join(deg, Seq("node"))
        .join(stot, Seq("c"))
        .crossJoin(broadcast(m2Row))
        .select(col("node"),
          (col("__m2") * coalesce(col("__kown"), lit(0L)).cast(dec) -
            col("k").cast(dec) * (col("stot") - col("k")).cast(dec))
            .as("__gown"))
      // FINE levels (base nodes): the node-parity schedule — only
      // nodes with node%2 == t%2 move, either label direction. At
      // this granularity simultaneous collisions wash out (measured:
      // real communities form on the purchase graph where the
      // guarded whole-round scheme stalls at singletons — 100 movers
      // piling onto shared targets make every all-or-nothing round
      // net-negative). COARSE levels (contracted super-nodes): the
      // alternating-direction label rule — odd rounds move only to
      // SMALLER labels, even rounds only to larger; within a round
      // all moves share one direction so swaps are impossible, and
      // alternation removes the one-directional deadlock.
      val dirOk =
        if (!coarse) lit(true)
        else if (t % 2 == 1) col("c") < col("__own")
        else col("c") > col("__own")
      val best = scored.where(col("c") =!= col("__own") && dirOk)
        .groupBy("node")
        .agg(min(struct((-col("__gain")).as("ng"), col("c").as("bc")))
          .as("__b"))
        .select(col("node"), (-col("__b.ng")).as("__gbest"),
          col("__b.bc").as("__cbest"))
      // pmod, not %: signed remainder would leave negative odd ids at
      // -1 forever (never matching either parity class → frozen
      // singletons); pmod keeps the schedule total over all ids
      val moveOk =
        if (coarse) lit(true) else pmod(col("node"), lit(2L)) === t % 2
      val proposal = comm
        .join(own, Seq("node"))
        .join(best, Seq("node"), "left")
        .select(col("node"),
          when(moveOk && col("__gbest") > col("__gown"), col("__cbest"))
            .otherwise(col("c")).as("c"))
      // GLOBAL acceptance guard (coarse levels only): each mover's
      // gain is exact but SIMULTANEOUS moves can collide (two nodes
      // chain-merging through each other — the known synchronous-
      // Louvain overshoot, measured making Q WORSE on the clique-ring
      // fixture). The round's whole proposal is therefore accepted
      // only if the exact integer modularity Q·(2m)² strictly
      // improves; otherwise the round reverts and the next round's
      // direction flips. Q is monotonically non-decreasing across
      // rounds BY CONSTRUCTION — the hill-climbing invariant the spec
      // asserts. The comparison happens DRIVER-side on two one-row
      // exact integers (a 1-row collect per round, the touched-key-
      // count class): a reverted round keeps the PREVIOUS materialized
      // frame, skipping both the second modularity aggregate (the
      // accepted Q carries forward) and a useless re-materialization —
      // same arithmetic, same results as the in-plan CASE the oracle
      // replays.
      if (!coarse) {
        // stability stop (`stopAtStable`): two consecutive no-move
        // rounds (one per parity class) prove every later round a
        // no-op, so stopping is invisible to a fixed-depth oracle
        // unroll. The proposal is materialized FIRST and the moved
        // count joins two FLAT checkpointed frames — counting on top
        // of the un-truncated proposal tree would hand Catalyst's
        // sizeInBytes estimator a self-similar join tree whose
        // product-of-children BigInts explode to ~10⁵ digits
        // (minutes of single-core Toom-Cook planning per round,
        // measured on the sf0.1 sweep).
        val next = Checkpointing.truncateFresh(proposal)
        val moved =
          if (stopAtStable)
            next.join(comm.withColumnRenamed("c", "__pc"), Seq("node"))
              .where(col("c") =!= col("__pc")).count()
          else -1L
        if (stopAtStable && moved == 0L) {
          stableStreak += 1
          if (stableStreak >= 2) stopped = true
          Checkpointing.release(next) // proposal ≡ comm — keep the old frame
        } else {
          stableStreak = 0
          val prev = comm
          comm = next
          Checkpointing.release(prev)
        }
      } else {
        val qp = qOf(qint(proposal))
        if (qp.compareTo(qCur) > 0) {
          val prev = comm
          comm = Checkpointing.truncate(proposal)
          Checkpointing.release(prev)
          qCur = qp
        }
      }
    }
    (comm.select(col("node"), col("c").as("community")), t)
  }

  /** Mirror of [[louvain]] for the DuckDB oracle: T fine-regime
    * rounds unrolled as CTEs, the gain comparison in HUGEINT (the exact
    * integers Spark computes in DECIMAL(38,0)), argmax as row_number
    * over (gain desc, community asc). `edgesCte` must define
    * `e(src, dst, w)` — symmetrized weighted edges. The final
    * assignment is exposed as CTE `lv(node, community)`; `tail` is
    * the closing SELECT over it (default: dump the assignment). */
  def louvainSql(edgesCte: String, iters: Int,
                 tail: String = "SELECT node, community FROM lv"): String =
    s"""WITH $edgesCte,
       |${louvainLevelSql("", "e", iters, coarse = false)},
       |lv AS (SELECT node, c AS community FROM cm$iters)
       |$tail""".stripMargin

  /** Mirror of [[louvainMultiLevel]]: `levels` level chains, each
    * contraction a MATERIALIZED sum-aggregate over the previous
    * level's edges and assignment, the expansion a label-composition
    * join chain. Same `edgesCte`/`lv`/`tail` contract as
    * [[louvainSql]]. */
  def louvainMultiLevelSql(edgesCte: String, itersPerLevel: Int,
                           levels: Int,
                           tail: String = "SELECT node, community FROM lv")
      : String = {
    val chains = new StringBuilder(
      louvainLevelSql("l1", "e", itersPerLevel, coarse = false))
    for (k <- 2 to levels) {
      val prevE = if (k == 2) "e" else s"l${k - 1}e"
      chains.append(s""",
        |l${k}e AS MATERIALIZED (
        |  SELECT a.c AS src, b.c AS dst, CAST(sum(pe.w) AS BIGINT) AS w
        |  FROM $prevE pe
        |  JOIN l${k - 1}cm$itersPerLevel a ON a.node = pe.src
        |  JOIN l${k - 1}cm$itersPerLevel b ON b.node = pe.dst
        |  GROUP BY 1, 2
        |),
        |""".stripMargin)
      chains.append(
        louvainLevelSql(s"l$k", s"l${k}e", itersPerLevel, coarse = true))
    }
    val joins = (2 to levels).map(k =>
      s"JOIN l${k}cm$itersPerLevel c$k ON c$k.node = c${k - 1}.c")
      .mkString("\n  ")
    val topC = if (levels == 1) "c1.c" else s"c$levels.c"
    s"""WITH $edgesCte,
       |${chains.toString},
       |lv AS (
       |  SELECT c1.node, $topC AS community
       |  FROM l1cm$itersPerLevel c1
       |  $joins
       |)
       |$tail""".stripMargin
  }

  /** Exact integer modularity Q·(2m)² of assignment table `cmName`
    * over `$eName` — one scalar row `q`, the acceptance guard's
    * comparand. */
  private def qSql(p: String, eName: String, cmName: String): String =
    s"""
       |  SELECT CAST(sum(CAST(m.m2 AS HUGEINT) * coalesce(ein.ein, 0) -
       |           CAST(st.stot AS HUGEINT) * st.stot) AS HUGEINT) AS q
       |  FROM (SELECT c.c, CAST(sum(d.k) AS BIGINT) AS stot
       |        FROM $cmName c JOIN ${p}deg d ON d.node = c.node
       |        GROUP BY 1) st
       |  LEFT JOIN (SELECT a.c, CAST(sum(e.w) AS BIGINT) AS ein
       |             FROM $eName e
       |             JOIN $cmName a ON a.node = e.src
       |             JOIN $cmName b ON b.node = e.dst
       |             WHERE a.c = b.c GROUP BY 1) ein ON ein.c = st.c
       |  CROSS JOIN ${p}m2 m""".stripMargin

  /** One level's CTE chain over the weighted symmetrized edge table
    * `$eName(src, dst, w)` — self-loop rows count in `${p}deg`/`${p}m2`,
    * never in k_{i→c}. Emits `${p}cm0..${p}cm$iters`. */
  private def louvainLevelSql(p: String, eName: String, iters: Int,
                              coarse: Boolean,
                              seed: Option[String] = None): String = {
    val rounds = (1 to iters).map { t =>
      // fine levels: node-parity schedule, both label directions, no
      // guard; coarse levels: alternating label direction + the
      // whole-round Q acceptance guard (see louvainLevel)
      val bstWhere =
        if (coarse) s"c ${if (t % 2 == 1) "<" else ">"} own"
        else "c <> own"
      // ((x % 2) + 2) % 2 = Spark's pmod(x, 2) under DuckDB's signed %
      val moveCond =
        if (coarse) "b.gbest > o.gain"
        else s"((cm.node % 2) + 2) % 2 = ${t % 2} AND b.gbest > o.gain"
      s"""${p}kic$t AS MATERIALIZED (
         |  SELECT e.src AS node, c.c AS c, CAST(sum(e.w) AS BIGINT) AS kic
         |  FROM $eName e JOIN ${p}cm${t - 1} c ON c.node = e.dst
         |  WHERE e.src <> e.dst
         |  GROUP BY 1, 2
         |), ${p}st$t AS MATERIALIZED (
         |  SELECT c.c, CAST(sum(d.k) AS BIGINT) AS stot
         |  FROM ${p}cm${t - 1} c JOIN ${p}deg d ON d.node = c.node
         |  GROUP BY 1
         |), ${p}cand$t AS (
         |  SELECT node, c, CAST(sum(kic) AS BIGINT) AS kic FROM (
         |    SELECT node, c, kic FROM ${p}kic$t
         |    UNION ALL SELECT node, c, 0 FROM ${p}cm${t - 1})
         |  GROUP BY 1, 2
         |), ${p}sc$t AS MATERIALIZED (
         |  SELECT cand.node, cand.c, cm.c AS own, d.k,
         |         CAST(m.m2 AS HUGEINT) * cand.kic -
         |           CAST(d.k AS HUGEINT) *
         |           (CASE WHEN cand.c = cm.c THEN st.stot - d.k
         |                 ELSE st.stot END) AS gain
         |  FROM ${p}cand$t cand
         |  JOIN ${p}cm${t - 1} cm ON cm.node = cand.node
         |  JOIN ${p}deg d ON d.node = cand.node
         |  JOIN ${p}st$t st ON st.c = cand.c
         |  CROSS JOIN ${p}m2 m
         |), ${p}bst$t AS (
         |  SELECT node, c AS cbest, gain AS gbest FROM (
         |    SELECT node, c, gain, row_number() OVER
         |      (PARTITION BY node ORDER BY gain DESC, c ASC) AS rn
         |    FROM ${p}sc$t WHERE $bstWhere)
         |  WHERE rn = 1
         |), ${p}pr$t AS MATERIALIZED (
         |  SELECT cm.node,
         |         CASE WHEN $moveCond
         |              THEN b.cbest ELSE cm.c END AS c
         |  FROM ${p}cm${t - 1} cm
         |  JOIN (SELECT node, gain FROM ${p}sc$t WHERE c = own) o
         |    ON o.node = cm.node
         |  LEFT JOIN ${p}bst$t b ON b.node = cm.node
         |)""".stripMargin + (if (!coarse)
        s""",
           |${p}cm$t AS MATERIALIZED (SELECT node, c FROM ${p}pr$t)""".stripMargin
      else
        s""",
           |${p}qp$t AS (${qSql(p, eName, s"${p}pr$t")}
           |), ${p}qc$t AS (${qSql(p, eName, s"${p}cm${t - 1}")}
           |), ${p}cm$t AS MATERIALIZED (
           |  SELECT pr.node,
           |         CASE WHEN qp.q > qc.q THEN pr.c ELSE cm.c END AS c
           |  FROM ${p}pr$t pr
           |  JOIN ${p}cm${t - 1} cm ON cm.node = pr.node
           |  CROSS JOIN ${p}qp$t qp CROSS JOIN ${p}qc$t qc
           |)""".stripMargin)
    }
    val cm0 = seed match {
      case None => s"SELECT node, node AS c FROM ${p}deg"
      case Some(sd) =>
        s"""SELECT d.node, coalesce(s.c, d.node) AS c
           |  FROM ${p}deg d LEFT JOIN $sd s ON s.node = d.node""".stripMargin
    }
    s"""${p}deg AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS k
       |        FROM $eName GROUP BY 1),
       |${p}m2 AS (SELECT CAST(sum(k) AS BIGINT) AS m2 FROM ${p}deg),
       |${p}cm0 AS MATERIALIZED ($cm0),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Mirror of a WHOLE maintained-community history for the DuckDB
    * oracle ([[louvainWarm]] chained over arrival waves): wave 1 runs
    * `iters` fine rounds cold (singleton cm0) over `waveEdgeNames(0)`,
    * every later wave runs `iters` WARM rounds over its cumulative
    * edge table seeded from the previous wave's final assignment —
    * exactly the process [[GraphState.advanceCommState]] executes per
    * microbatch with the same `iters` cap (an advance that stabilized
    * early leaves the unroll's tail rounds provably no-ops, so the
    * fixed-depth replay matches either way). `edgesCte` must define each name in `waveEdgeNames`
    * as a SYMMETRIZED weighted edge table `(src, dst, w)` holding the
    * CUMULATIVE edge set at that wave. Final assignment exposed as
    * `lv(node, community)`; `tail` closes over it. */
  def louvainWarmChainSql(edgesCte: String, waveEdgeNames: Seq[String],
                          iters: Int,
                          tail: String = "SELECT node, community FROM lv")
      : String = {
    require(waveEdgeNames.nonEmpty)
    val chains = waveEdgeNames.zipWithIndex.map { case (en, i) =>
      louvainLevelSql(s"w${i + 1}", en, iters, coarse = false,
        seed = if (i == 0) None else Some(s"w${i}cm$iters"))
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |$chains,
       |lv AS (SELECT node, c AS community FROM w${waveEdgeNames.size}cm$iters)
       |$tail""".stripMargin
  }

  /** Mirror of [[labelPropagation]] for the DuckDB oracle: the same T
    * rounds unrolled as CTEs, the argmax as row_number over
    * (count desc, label asc) — the identical total order. `edgesCte`
    * must define `e(src, dst)`. */
  def labelPropagationSql(edgesCte: String, iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""v$t AS (
         |  SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
         |  FROM e JOIN l${t - 1} l ON l.node = e.src
         |  GROUP BY 1, 2
         |), w$t AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER
         |      (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
         |    FROM v$t)
         |  WHERE rn = 1
         |), l$t AS (
         |  SELECT l.node, coalesce(w.lbl, l.lbl) AS lbl
         |  FROM l${t - 1} l LEFT JOIN w$t w ON w.node = l.node
         |)""".stripMargin
    }
    s"""WITH $edgesCte,
       |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |l0 AS (SELECT node, node AS lbl FROM n),
       |${rounds.mkString(",\n")}
       |SELECT node, lbl FROM l$iters""".stripMargin
  }

  /** k-core decomposition by synchronous peel — the standard graph
    * pruning companion to [[louvain]]/[[triangleStats]] (spam/quality
    * filtering keeps the dense k-core of a link or co-occurrence
    * graph and drops the peripheral fluff). Round t simultaneously
    * removes EVERY node whose degree in the round-(t−1) surviving
    * subgraph is < k; the removals are synchronous, so the result is
    * schedule-free by construction (no tie-breaking needed — the
    * fixed point is the unique maximal k-core, and each prefix of
    * rounds is deterministic too, which is what the fixed-`iters`
    * differential oracle replays). `iters` bounds the peel; on any
    * graph the peel stabilizes once no node falls below k, after
    * which further rounds are no-ops — callers wanting the exact
    * fixed point pick iters ≥ the peel depth (≤ |V| always, tiny in
    * practice: each round must delete ≥1 node to matter).
    *
    * Input edges may be directed/duplicated/self-looped; they
    * canonicalize to simple undirected pairs, symmetrized internally.
    * Returns surviving (node, deg) — degree WITHIN the surviving
    * subgraph.
    *
    * Scale per round: one map-side-combined |E| degree count + two
    * |E| semi-joins keyed src/dst (the same keys every round — on a
    * cluster the edge table's partitioning is reused). Per-round
    * lineage truncation with checkpoint rotation ([[pageRank]]'s
    * discipline); serialized blocks ([[Checkpointing.truncateSer]])
    * because the state IS the edge set. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val canon = edges
      .select(col(srcCol).cast("long").as("__x"),
        col(dstCol).cast("long").as("__y"))
      .where(col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("a"),
        greatest(col("__x"), col("__y")).as("b"))
      .distinct()
    var e = Checkpointing.truncateSer(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
    for (_ <- 1 to iters) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k)
        .select(col("src").as("node"))
      val prev = e
      e = Checkpointing.truncateSer(
        e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      Checkpointing.release(prev)
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** DuckDB twin of [[kCore]]: the same `iters` synchronous peel
    * rounds unrolled as a CTE chain. `edgesCte` must define
    * `e0(src, dst)` — the SYMMETRIZED simple edge set (both
    * directions, no self-loops, distinct).
    *
    * `assertFixedPoint = true` is for oracles of the FIXED-POINT
    * operators ([[kCoreFixedPoint]], [[advanceKCore]],
    * [[retractKCore]]): the unrolled depth is a hand-picked constant,
    * and a fixture/scale where the peel needs MORE rounds would
    * silently make the ORACLE wrong rather than the engine. The guard
    * CTE emits its one row only when round `iters` removed nothing
    * (edge counts equal round `iters`−1 — removal-only, so equal
    * counts ⇔ equal sets); a too-shallow unroll then returns ZERO
    * rows and the gate fails loudly on the row-count mismatch. */
  def kCoreSql(edgesCte: String, k: Int, iters: Int,
               nodeAs: String = "node",
               assertFixedPoint: Boolean = false): String = {
    require(k >= 1 && iters >= 1)
    val rounds = (1 to iters).map { t =>
      s"""kp$t AS MATERIALIZED (
         |  SELECT src FROM ke${t - 1} GROUP BY src
         |  HAVING count(*) >= $k
         |), ke$t AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM ke${t - 1} e
         |  WHERE e.src IN (SELECT src FROM kp$t)
         |    AND e.dst IN (SELECT src FROM kp$t)
         |)""".stripMargin
    }.mkString(",\n")
    val (chkCte, chkFrom) =
      if (!assertFixedPoint) ("", "")
      else (s""",
        |kchk AS (SELECT 1 AS ok
        |         WHERE (SELECT count(*) FROM ke$iters) =
        |               (SELECT count(*) FROM ke${iters - 1}))""".stripMargin,
        " CROSS JOIN kchk")
    s"""WITH $edgesCte,
       |ke0 AS (SELECT src, dst FROM e0),
       |$rounds$chkCte
       |SELECT src AS $nodeAs, CAST(count(*) AS BIGINT) AS deg
       |FROM ke$iters$chkFrom GROUP BY 1""".stripMargin
  }

  /** INCREMENTAL k-core maintenance (round-13 verdict #2): advance a
    * stabilized k-core survivor set with an edge delta WITHOUT
    * re-peeling the graph. Edge INSERTION is monotone — the k-core
    * can only grow — so `prevCore`'s nodes pass through untouched and
    * the only question is which non-core nodes JOIN. Every joiner
    * component must contain a delta endpoint: if a connected set C of
    * joiners (connected via joiner-joiner edges) touched no delta
    * edge, all edges incident to C would be old edges, every node of
    * core(G) ∪ C would have degree ≥ k within core(G) ∪ C in the OLD
    * graph, and C would already have been in core(G) — contradiction.
    * So the candidate region is found by SEMI-JOIN FRONTIER EXPANSION
    * from the delta's non-core endpoints through non-core nodes
    * (each round one |E|-keyed semi-join; the loop runs until the
    * frontier empties — region-diameter rounds). The expansion is
    * DEGREE-PRUNED: a node whose total degree in the new graph is
    * < k can never join, and joiner components are connected through
    * joiners — every joiner has new-graph degree ≥ k — so walking only
    * through (non-core, degree ≥ k) nodes still reaches every joiner
    * component from its delta endpoint, while a long sub-k chain
    * (which an unpruned walk would flood node by node) stops the
    * frontier immediately. The region is therefore bounded by the
    * delta's ≥k-degree neighborhood — though on an adversarial graph
    * (a dense non-core blob wired to a delta endpoint) it can still
    * grow large, which is what the `maxRounds` guard below bounds.
    * The region then peels with
    * STATIC degree credit from the old core (core nodes never leave,
    * so their contribution to a candidate's degree is a constant) —
    * the peel's fixed point is exactly core(G ∪ D) \ core(G).
    *
    * Degrees: only delta endpoints, joiners, and surviving neighbors
    * of joiners can change degree — they are recomputed against the
    * new survivor set in one |E|-scan pass; every other old survivor
    * passes its stored row through byte-identical.
    *
    * PRECONDITION: `prevCore` must be the STABILIZED fixed point of
    * [[kCore]] over `prevEdges` (iters ≥ the peel depth) — a mid-peel
    * prefix is not a valid k-core (its nodes can still fall) and the
    * pass-through would be wrong. The differential oracle (q231)
    * checks incremental ≡ the full fixed-point peel, to the hash.
    *
    * `maxRounds` bounds BOTH driver loops (frontier expansion and the
    * region peel — each round is one Spark job, and the round count is
    * data-dependent): a delta whose region cascades past the bound
    * falls back to the FULL fixed-point re-peel of the new graph (the
    * recovery path's rebuild, [[GraphState.recoverKCoreState]]) —
    * always exact, never faster than the incremental path, but a
    * BOUNDED number of driver round-trips replaces an unbounded one.
    *
    * Returns surviving (node, deg) — [[kCore]]'s exact output shape. */
  def advanceKCore(prevCore: DataFrame, prevEdges: DataFrame,
                   srcCol: String, dstCol: String, delta: DataFrame,
                   k: Int, maxRounds: Int = DefaultIncRounds): DataFrame =
    advanceKCoreCore(prevCore,
      Checkpointing.truncateSer(canonPairs(prevEdges, srcCol, dstCol)),
      canonPairs(delta, srcCol, dstCol), k, maxRounds)._2

  /** The COLD-START k-core advance — [[kCoreFixedPoint]] over
    * `baseEdges` followed by [[advanceKCore]] with `delta`, sharing ONE
    * materialized canonicalization of the base (round-15 — the
    * [[advanceTriangleStatsCold]] rationale): the separate-call shape
    * re-executes the raw base construction and its |E| distinct twice.
    * The base peel (the part a maintenance deployment reads from
    * [[GraphState]] instead of recomputing) reports as the `base`
    * phase member ([[PhaseTimer]]) so the bench artifact keeps base
    * and advance separated. Results are bit-identical to the two-call
    * composition. */
  def advanceKCoreCold(baseEdges: DataFrame, srcCol: String, dstCol: String,
                       delta: DataFrame, k: Int,
                       maxRounds: Int = DefaultIncRounds): DataFrame = {
    val (canon, prev) = PhaseTimer.time("base") {
      val c = Checkpointing.truncateSer(canonPairs(baseEdges, srcCol, dstCol))
      (c, kCoreFixedPointCore(c, k))
    }
    advanceKCoreCore(prev, canon, canonPairs(delta, srcCol, dstCol),
      k, maxRounds)._2
  }

  /** Driver-loop round bound for the incremental k-core paths: far
    * above any measured cascade (the sweep's regions settle in < 10
    * rounds) while guaranteeing a pathological delta (a cycle closure
    * that walks a 10⁶-node ring hop by hop) degrades to ONE bounded
    * fallback re-peel instead of 10⁶ driver round-trips. */
  val DefaultIncRounds = 128

  /** The k-core advance over an ALREADY-CANONICAL previous edge set —
    * the maintained-state path ([[GraphState.advanceKCoreState]]),
    * mirroring [[advanceTriangleCore]]: no per-advance |E|
    * re-canonicalization. Returns (newEdges, newCore). */
  private[ops] def advanceKCoreCore(prevCore: DataFrame, oldE: DataFrame,
                                    canD: DataFrame, k: Int,
                                    maxRounds: Int = DefaultIncRounds): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val (d, _) = freshDelta(oldE, canD)
    val newE = Checkpointing.truncateSer(oldE.unionAll(d))
    val sym = newE.select(col("a").as("u"), col("b").as("v"))
      .unionAll(newE.select(col("b").as("u"), col("a").as("v")))
    val core = Checkpointing.truncate(prevCore.select(col("node")))
    // degree prune (ADVICE round 14): nodes below k in the NEW graph
    // can never join and never need to propagate — one map-side-
    // combined |E| count, node-sized output
    val elig = Checkpointing.truncate(
      sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("__dg"))
        .where(col("__dg") >= k).select("node"))
    // seeds: the delta's ≥k-degree endpoints outside the old core
    var frontier = Checkpointing.truncate(
      d.select(col("a").as("node")).unionAll(d.select(col("b").as("node")))
        .distinct()
        .join(core, Seq("node"), "left_anti")
        .join(elig, Seq("node"), "left_semi"))
    var region = frontier
    var growing = frontier.count() > 0L
    var rounds = 0
    var exceeded = false
    while (growing && !exceeded) {
      rounds += 1
      if (rounds > maxRounds) exceeded = true
      else {
        val next = Checkpointing.truncate(
          sym.join(frontier.select(col("node").as("u")), Seq("u"), "left_semi")
            .select(col("v").as("node")).distinct()
            .join(core, Seq("node"), "left_anti")
            .join(region, Seq("node"), "left_anti")
            .join(elig, Seq("node"), "left_semi"))
        if (next.count() == 0L) growing = false
        else {
          region = Checkpointing.truncate(region.unionAll(next))
          frontier = next
        }
      }
    }
    if (exceeded) return (newE, kCoreFixedPointCore(newE, k))
    // static credit: region→old-core edges (core never shrinks)
    val credit = sym
      .join(region.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(core.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("__cr"))
    // region-internal edges, symmetric
    val eR = Checkpointing.truncateSer(sym
      .join(region.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(region.select(col("node").as("v")), Seq("v"), "left_semi"))
    var surv = Checkpointing.truncate(
      region.join(credit, Seq("node"), "left")
        .select(col("node"), coalesce(col("__cr"), lit(0L)).as("__cr")))
    var nSurv = surv.count()
    var peeling = nSurv > 0L
    rounds = 0
    while (peeling && !exceeded) {
      rounds += 1
      if (rounds > maxRounds) exceeded = true
      else {
        val degs = eR
          .join(surv.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(surv.select(col("node").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u").as("node")).agg(count(lit(1)).as("__dr"))
        val kept = Checkpointing.truncate(
          surv.join(degs, Seq("node"), "left")
            .where(coalesce(col("__dr"), lit(0L)) + col("__cr") >= k)
            .select(col("node"), col("__cr")))
        val n = kept.count()
        if (n == nSurv) peeling = false
        else {
          Checkpointing.release(surv)
          surv = kept; nSurv = n
          peeling = nSurv > 0L
        }
      }
    }
    if (exceeded) return (newE, kCoreFixedPointCore(newE, k))
    val joiners = surv.select("node")
    val survivors = Checkpointing.truncate(core.unionAll(joiners))
    // nodes whose degree can have changed: delta endpoints, joiners,
    // and surviving neighbors of joiners
    val touched = Checkpointing.truncate(
      d.select(col("a").as("node")).unionAll(d.select(col("b").as("node")))
        .unionAll(joiners)
        .unionAll(sym
          .join(joiners.select(col("node").as("u")), Seq("u"), "left_semi")
          .select(col("v").as("node")))
        .distinct()
        .join(survivors, Seq("node"), "left_semi"))
    val degT = sym
      .join(touched.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(survivors.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val newCore = prevCore.join(touched, Seq("node"), "left_anti")
      .select(col("node"), col("deg"))
      .unionAll(degT.select(col("node"), col("deg")))
    (newE, newCore)
  }

  /** The DELETION side of [[advanceKCore]] (round-14 verdict #1 — the
    * maintained-pair lifecycle the triangle family already has):
    * retract an edge set from a STABILIZED k-core without re-peeling
    * the graph. Deletion is monotone the OTHER way — the core can only
    * SHRINK (core(G∖D) ⊆ core(G)), and it equals the k-core of the
    * subgraph induced on the OLD survivors under the remaining edges
    * (the maximal min-degree-≥k subgraph of G∖D uses only old-core
    * nodes, all of whose induced edges are available there). Every
    * LEAVER component (connected via old-core edges) contains a
    * removed edge's endpoint: if a connected leaver set L touched no
    * removed edge, every node of L keeps all its neighbors except
    * leavers outside L — none of which are adjacent (L is a full
    * component) — so core(G∖D) ∪ L would have min degree ≥ k,
    * contradicting L leaving. The cascade therefore runs OUTWARD from
    * the removed edges' core endpoints, hop by hop: each round
    * re-checks only the current candidates' degree within the
    * still-alive core (edges-to-core minus edges-to-fallen — two
    * semi-probes of the edge set with candidate/leaver-sized build
    * sides), moves the sub-k ones to the leaver set, and promotes
    * their surviving core neighbors to candidates. Rounds = cascade
    * depth, bounded by `maxRounds` with the same fallback contract as
    * [[advanceKCore]] (here the re-peel runs over the CORE-INDUCED
    * subgraph — never the whole graph).
    *
    * Degrees: survivors adjacent to a leaver or to a removed edge
    * refresh against the new survivor set in one |E|-scan pass; every
    * other survivor passes its stored row through byte-identical.
    * Removed edges not actually present are ignored; duplicates
    * collapse. PRECONDITION: `prevCore` stabilized, as in
    * [[advanceKCore]]. retract(advance(S, D), D) ≡ S for a fresh D by
    * construction; the differential oracle (q237) checks interleaved
    * insert/delete waves ≡ the fixed-point peel of the net edge set.
    *
    * Returns surviving (node, deg) — [[kCore]]'s exact output shape. */
  def retractKCore(prevCore: DataFrame, prevEdges: DataFrame,
                   srcCol: String, dstCol: String, removed: DataFrame,
                   k: Int, maxRounds: Int = DefaultIncRounds): DataFrame =
    retractKCoreCore(prevCore,
      Checkpointing.truncateSer(canonPairs(prevEdges, srcCol, dstCol)),
      canonPairs(removed, srcCol, dstCol), k, maxRounds)._2

  /** Retraction over an ALREADY-CANONICAL previous edge set — the
    * maintained-state twin of [[advanceKCoreCore]]
    * ([[GraphState.retractKCoreState]]). The actually-present removed
    * set is broadcast-probed ([[retractTriangleCore]]'s shape: one
    * |E| scan, zero |E| shuffle, delta-bounded result). Returns
    * (newEdges, newCore). */
  private[ops] def retractKCoreCore(prevCore: DataFrame, oldE: DataFrame,
                                    canR: DataFrame, k: Int,
                                    maxRounds: Int = DefaultIncRounds): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // one materialization of the canonicalized removal set + one of the
    // present set (freshDelta's round-15 discipline)
    val c = Checkpointing.truncate(canR)
    val cnt0 = c.count()
    val d0 =
      if (cnt0 <= Dedup.broadcastIdLimit(c))
        oldE.join(broadcast(c), Seq("a", "b"), "left_semi")
      else c.join(oldE, Seq("a", "b"), "left_semi")
    val d1 = Checkpointing.truncate(d0)
    val dCnt = d1.count()
    val d = Dedup.maybeBroadcast(d1, dCnt)
    val newE = Checkpointing.truncateSer(
      oldE.join(d, Seq("a", "b"), "left_anti"))
    val sym = newE.select(col("a").as("u"), col("b").as("v"))
      .unionAll(newE.select(col("b").as("u"), col("a").as("v")))
    val core = Checkpointing.truncate(prevCore.select(col("node")))
    val dEnds = Checkpointing.truncate(
      d.select(col("a").as("node")).unionAll(d.select(col("b").as("node")))
        .distinct())
    // seeds: removed edges' endpoints inside the old core
    var cand = Checkpointing.truncate(
      dEnds.join(core, Seq("node"), "left_semi"))
    var out = cand.limit(0) // cumulative leavers
    var rounds = 0
    var exceeded = false
    var cascading = cand.count() > 0L
    while (cascading && !exceeded) {
      rounds += 1
      if (rounds > maxRounds) exceeded = true
      else {
        // candidate degree within the still-alive core under the NEW
        // edges: edges-to-core minus edges-to-fallen (both probes carry
        // candidate/leaver-sized build sides over one edge scan each)
        val toCore = sym
          .join(cand.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(core.select(col("node").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u").as("node")).agg(count(lit(1)).as("__dc"))
        val toOut = sym
          .join(cand.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(out.select(col("node").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u").as("node")).agg(count(lit(1)).as("__do"))
        val fallen = Checkpointing.truncate(
          cand.join(toCore, Seq("node"), "left")
            .join(toOut, Seq("node"), "left")
            .where(coalesce(col("__dc"), lit(0L)) -
              coalesce(col("__do"), lit(0L)) < k)
            .select("node"))
        if (fallen.count() == 0L) cascading = false
        else {
          out = Checkpointing.truncate(out.unionAll(fallen))
          // next candidates: surviving core neighbors of the fallen
          cand = Checkpointing.truncate(
            sym.join(fallen.select(col("node").as("u")), Seq("u"), "left_semi")
              .select(col("v").as("node")).distinct()
              .join(core, Seq("node"), "left_semi")
              .join(out, Seq("node"), "left_anti"))
          cascading = cand.count() > 0L
        }
      }
    }
    if (exceeded) {
      // bounded fallback: re-peel the CORE-INDUCED subgraph (exact —
      // core(G∖D) lives entirely inside the old core)
      val induced = newE
        .join(core.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(core.select(col("node").as("b")), Seq("b"), "left_semi")
      return (newE, kCoreFixedPointCore(Checkpointing.truncateSer(induced), k))
    }
    val survivors = Checkpointing.truncate(
      core.join(out, Seq("node"), "left_anti"))
    // degrees can only have changed next to a removed edge or a leaver
    val touched = Checkpointing.truncate(
      dEnds
        .unionAll(sym
          .join(out.select(col("node").as("u")), Seq("u"), "left_semi")
          .select(col("v").as("node")))
        .distinct()
        .join(survivors, Seq("node"), "left_semi"))
    val degT = sym
      .join(touched.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(survivors.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val newCore = prevCore
      .join(out, Seq("node"), "left_anti")
      .join(touched, Seq("node"), "left_anti")
      .select(col("node"), col("deg"))
      .unionAll(degT.select(col("node"), col("deg")))
    (newE, newCore)
  }

  /** [[kCore]] iterated to the FIXED POINT (peel until no edge is
    * removed — a driver-side count guard per round, the Louvain-Q
    * pattern): the form [[GraphState]]'s maintained survivor set
    * needs, since [[advanceKCoreCore]]'s pass-through is only valid
    * from a stabilized core. Returns (node, deg).
    *
    * `maxRounds` (generous — the peel depth of any non-adversarial
    * graph is tiny; a k=2 path peels 2 nodes a round and would need
    * |V|/2) bounds the driver loop FAIL-LOUD: stopping early would
    * return a mid-peel superset, silently wrong, so exceeding the
    * bound throws instead — on a graph that deep, pick a different k
    * or raise the bound deliberately. */
  def kCoreFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, maxRounds: Int = DefaultPeelRounds): DataFrame =
    kCoreFixedPointCore(canonPairs(edges, srcCol, dstCol), k, maxRounds)

  /** Fail-loud round bound for [[kCoreFixedPoint]]'s synchronous peel. */
  val DefaultPeelRounds = 10000

  /** [[kCoreFixedPoint]] over an ALREADY-CANONICAL edge frame
    * `e(a, b)` — the [[GraphState]] rebuild path and the incremental
    * paths' fallback, where the input is canonical by construction. */
  private[ops] def kCoreFixedPointCore(canon: DataFrame, k: Int,
                                       maxRounds: Int = DefaultPeelRounds): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = Checkpointing.truncateSer(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
    var m = e.count()
    var changed = m > 0L
    var rounds = 0
    while (changed) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"k-core peel exceeded $maxRounds rounds (still $m directed edges)" +
            " — raise maxRounds deliberately for a peel this deep")
      val keep = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k)
        .select(col("src").as("node"))
      val next = Checkpointing.truncateSer(
        e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      val m2 = next.count()
      if (m2 == m) changed = false
      else {
        Checkpointing.release(e)
        e = next; m = m2
        changed = m > 0L
      }
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Neighborhood function — HyperANF (Boldi, Rosa & Vigna 2011,
    * "HyperANF: approximating the neighbourhood function of very
    * large graphs on a budget"): per-node estimates of |ball(v, t)|
    * (how many nodes are within t hops of v) for t = 1..iters — the
    * distance-distribution signal beside centrality ([[pageRank]])
    * and community ([[louvain]]): its per-t ramp is what effective
    * diameter, spid, and reachability audits read.
    *
    * Exact per-node balls need |V|·|V| bits; HyperANF keeps ONE HLL
    * register set per node (the [[graft.functions.PortableSketches]]
    * portable registers — the q43/q158 machinery) and advances it by
    * the identity ball(v, t) = {v} ∪ ⋃_{u∼v} ball(u, t−1): registers
    * are max-mergeable, so one round = one |E| join carrying (bucket,
    * r) pairs + one (node, bucket) max-combine. REGISTERS AS DATA —
    * exactly the mergeable-state posture the sketch family uses — so
    * the whole T-round run replays in the oracle as unrolled
    * register-arithmetic CTEs, and every estimate is engine-identical
    * (the portable-ln linear-counting branch included).
    *
    * Input edges canonicalize to simple undirected pairs, symmetrized
    * internally (balls are over the undirected graph). Returns
    * (node, t, ball_est) for t = 1..iters, ball_est the standard HLL
    * estimate of |ball(v, t)| (self included).
    *
    * Scale per round: the join carries at most min(256, |ball|)
    * register rows per source node — never the ball itself; the
    * max-combine is map-side combined on (node, bucket). Per-round
    * lineage truncation; intermediate register tables stay referenced
    * by their ladder rows, so no mid-loop release. */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import graft.functions.{HllRegs, PortableSketches}
    import PortableSketches._
    // base construction (canonicalize + symmetrize + node registers) is
    // separated out for the bench members artifact — in a maintenance
    // deployment the register table persists and only the merge rounds
    // recur (round-14 verdict #7 accounting)
    //
    // Registers are PACKED — one 256-byte array per node
    // ([[graft.functions.HllRegs]], round-15 optimization): a merge
    // round shuffles |E| rows instead of |E|×(present registers) rows
    // (~50× fewer near saturation) into a |V|-group bytewise-max
    // aggregate instead of a |V|×256-group max. Estimates are
    // bit-identical (same (bucket → max rho) map, same exact-integer
    // zsum, the same [[PortableSketches.hllEstimate]]), so the
    // unrolled register-CTE oracle is unchanged.
    val (e, regs0) = PhaseTimer.time("base") {
      val canon = canonPairs(edges, srcCol, dstCol)
      val eT = Checkpointing.truncateSer(
        canon.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
      val nodes = eT.select(col("src").as("node")).distinct()
      (eT, Checkpointing.truncate(nodes
        .select(col("node"), hllDigest(col("node")).as("__d"))
        .select(col("node"), HllRegs.regInit(hllBucket(col("__d")),
          hllRho(col("__d"))).as("regs"))))
    }
    var regs = regs0
    val ladder = Seq.newBuilder[DataFrame]
    for (t <- 1 to iters) {
      val fromNbrs = e
        .join(regs.select(col("node").as("src"), col("regs")), Seq("src"))
        .select(col("dst").as("node"), col("regs"))
      regs = Checkpointing.truncate(
        regs.unionAll(fromNbrs)
          .groupBy("node").agg(HllRegs.regMax(col("regs")).as("regs")))
      ladder += regs
        .select(col("node"), lit(t).cast("int").as("t"),
          HllRegs.regEstimate(col("regs")).as("ball_est"))
    }
    ladder.result().reduce(_ unionAll _)
  }

  /** DuckDB twin of [[neighborhoodFunction]]: the same `iters` rounds
    * unrolled as register-table CTEs under the shared portable-HLL
    * fragments. `edgesCte` must define `e(src, dst)` — the SYMMETRIZED
    * simple edge set. */
  def neighborhoodFunctionSql(edgesCte: String, iters: Int,
                              nodeAs: String = "node"): String = {
    require(iters >= 1)
    import graft.functions.PortableSketches._
    val rounds = (1 to iters).map { t =>
      s"""nr$t AS MATERIALIZED (
         |  SELECT node, bucket, max(r) AS r FROM (
         |    SELECT node, bucket, r FROM nr${t - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.bucket, p.r
         |    FROM e JOIN nr${t - 1} p ON p.node = e.src
         |  ) GROUP BY 1, 2
         |), nest$t AS (
         |  SELECT node, CAST($t AS INT) AS t,
         |         ${hllEstimateSql("zsum", "present")} AS ball_est
         |  FROM (SELECT node, sum($hllRegisterTermSql) AS zsum,
         |               count(*) AS present
         |        FROM nr$t GROUP BY node)
         |)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to iters)
      .map(t => s"SELECT node, t, ball_est FROM nest$t")
      .mkString("\nUNION ALL\n")
    s"""WITH $edgesCte,
       |n AS (SELECT DISTINCT src AS node FROM e),
       |nr0 AS MATERIALIZED (
       |  SELECT node, ${hllBucketSql("d")} AS bucket, ${hllRhoSql("d")} AS r
       |  FROM (SELECT node, ${hllDigestSql("node")} AS d FROM n)
       |)
       |,
       |$rounds
       |SELECT node AS $nodeAs, t, ball_est FROM (
       |$unions
       |)""".stripMargin
  }

  /** The [[neighborhoodFunction]] run's full REGISTER LADDER — levels
    * 0..`t` as (t, node, regs) rows (regs = the PACKED 256-byte
    * register set, [[graft.functions.HllRegs]]) over an
    * ALREADY-CANONICAL edge frame `e(a, b)` — the [[GraphState]] ANF
    * pair's init/rebuild representation (registers are the state;
    * estimates derive at read time via [[anfEstimates]]). One row per
    * (level, node) instead of one per present register: the staging
    * write and every merge shuffle carry |V| rows per level, not
    * |V|×256. */
  private[graft] def anfRegisters(canon: DataFrame, t: Int): DataFrame = {
    require(t >= 1, s"t must be >= 1, got $t")
    import graft.functions.{HllRegs, PortableSketches}
    import PortableSketches._
    val e = Checkpointing.truncateSer(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
    val nodes = e.select(col("src").as("node")).distinct()
    var regs = Checkpointing.truncate(nodes
      .select(col("node"), hllDigest(col("node")).as("__d"))
      .select(col("node"), HllRegs.regInit(hllBucket(col("__d")),
        hllRho(col("__d"))).as("regs")))
    val levels = Seq.newBuilder[DataFrame]
    levels += regs.select(lit(0).cast("int").as("t"), col("node"),
      col("regs"))
    for (s <- 1 to t) {
      regs = Checkpointing.truncate(
        regs.unionAll(e
            .join(regs.select(col("node").as("src"), col("regs")),
              Seq("src"))
            .select(col("dst").as("node"), col("regs")))
          .groupBy("node").agg(HllRegs.regMax(col("regs")).as("regs")))
      levels += regs.select(lit(s).cast("int").as("t"), col("node"),
        col("regs"))
    }
    levels.result().reduce(_ unionAll _)
  }

  /** Per-(node, t) ball estimates off a stored register ladder —
    * identical arithmetic to [[neighborhoodFunction]]'s output, so the
    * maintained ANF pair's read view matches the from-scratch run's
    * oracle ([[neighborhoodFunctionSql]]) bit for bit. With packed
    * registers this is a pure projection (two O(256) byte scans per
    * row) — no aggregation at read time at all. */
  def anfEstimates(regs: DataFrame): DataFrame = {
    import graft.functions.HllRegs
    regs.where(col("t") >= 1)
      .select(col("node"), col("t"),
        HllRegs.regEstimate(col("regs")).as("ball_est"))
  }

  /** STREAMING HyperANF maintenance (round-14 verdict stretch #9 —
    * the maintained-pair posture on the distance view): advance a
    * stored register ladder with an edge delta by EXACT per-level
    * changed-frontier propagation, never re-running the t rounds over
    * the whole graph. Level s's register set R_s(v) is the max-merge
    * of R_{s-1} over N(v) ∪ {v}, so after a delta it can change ONLY
    * for v that (a) gained a neighbor (a delta endpoint), or (b) has a
    * changed-R_{s-1} node in N(v) ∪ {v}. The candidate set per level
    * is therefore delta endpoints ∪ changed_{s-1} ∪ their new-graph
    * neighbors — recomputed exactly against the already-advanced
    * level s−1, with every other node's rows passing through
    * byte-identical. By induction the maintained ladder equals the
    * from-scratch t-round run on the union, REGISTER-BIT-IDENTICAL —
    * which is why q243's oracle is simply [[neighborhoodFunctionSql]]
    * over the net edge set.
    *
    * Scale: per level, one |C|·degree edge fan (size-gated broadcast)
    * joined against the level's register table, plus a register
    * anti-join for the changed set — all delta-neighborhood-bounded;
    * the stored ladder is only REWRITTEN (view-sized, like every
    * maintained pair's staging), never recomputed. Returns
    * (newEdges, newRegisterLadder) as unmaterialized plans. */
  private[ops] def advanceAnfCore(prevRegs: DataFrame, oldE: DataFrame,
                                  canD: DataFrame, t: Int): (DataFrame, DataFrame) = {
    import graft.functions.{HllRegs, PortableSketches}
    import PortableSketches._
    val (d, dCnt) = freshDelta(oldE, canD)
    val newE = Checkpointing.truncateSer(oldE.unionAll(d))
    val sym = newE.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(newE.select(col("b").as("src"), col("a").as("dst")))
    val dEnds = Dedup.maybeBroadcast(Checkpointing.truncate(
      d.select(col("a").as("node")).unionAll(d.select(col("b").as("node")))
        .distinct()), dCnt * 2)
    val old0 = prevRegs.where(col("t") === 0).select("node", "regs")
    val newNodes = Checkpointing.truncate(
      dEnds.join(old0.select("node").distinct(), Seq("node"), "left_anti"))
    var newPrev = Checkpointing.truncate(old0.unionAll(newNodes
      .select(col("node"), hllDigest(col("node")).as("__d"))
      .select(col("node"), HllRegs.regInit(hllBucket(col("__d")),
        hllRho(col("__d"))).as("regs"))))
    var changed = newNodes
    val levels = Seq.newBuilder[DataFrame]
    levels += newPrev.select(lit(0).cast("int").as("t"), col("node"),
      col("regs"))
    for (s <- 1 to t) {
      val olds = prevRegs.where(col("t") === s).select("node", "regs")
      val candN0 = Checkpointing.truncate(
        dEnds.unionAll(changed)
          .unionAll(sym
            .join(changed.select(col("node").as("src")), Seq("src"), "left_semi")
            .select(col("dst").as("node")))
          .distinct())
      val candN = Dedup.maybeBroadcast(candN0, candN0.count())
      // edges INTO candidates (|C|·degree) pull the advanced
      // level-(s−1) registers. The fan frame is consumed exactly once,
      // so it stays INLINE (round-15): its former
      // truncate + count + maybeBroadcast cost two extra jobs per
      // level whose only purpose was an explicit broadcast hint — AQE
      // picks broadcast-vs-shuffle for the fan⋈registers join from
      // measured runtime sizes instead (scale-adaptive, same result).
      val fan = sym.join(candN.select(col("node").as("dst")),
        Seq("dst"), "left_semi")
      // the stored-level comparison rides the SAME materialization as
      // the recompute (round-15): one truncate instead of two per
      // level — `changed` is then a cheap filter over the checkpointed
      // frame (re-evaluated lazily by its two next-level references)
      val recomputedJ = Checkpointing.truncate(
        candN.join(newPrev, Seq("node"))
          .select(col("node"), col("regs"))
          .unionAll(fan
            .join(newPrev.select(col("node").as("src"), col("regs")),
              Seq("src"))
            .select(col("dst").as("node"), col("regs")))
          .groupBy("node").agg(HllRegs.regMax(col("regs")).as("regs"))
          .join(olds.withColumnRenamed("regs", "__or"), Seq("node"), "left"))
      // registers are monotone, so "changed" ⇔ the recomputed packed
      // set differs from the stored level's row (covers brand-new
      // nodes too — they have no stored row)
      changed = recomputedJ
        .where(col("__or").isNull || col("regs") =!= col("__or"))
        .select("node")
      newPrev = Checkpointing.truncate(
        olds.join(candN, Seq("node"), "left_anti")
          .unionAll(recomputedJ.select("node", "regs")))
      levels += newPrev.select(lit(s).cast("int").as("t"), col("node"),
        col("regs"))
    }
    (newE, levels.result().reduce(_ unionAll _))
  }

  /** Effective diameter via SATURATED HyperANF (round-14 verdict #5 —
    * the headline readout [[neighborhoodFunction]]'s fixed-t ladder
    * cannot deliver): the register rounds run to their FIXED POINT
    * (stop at the first round that changes no register — registers are
    * monotone under max-merge, so one unchanged round proves every
    * later round a no-op: same state ⇒ same merge), then the
    * neighborhood function N(t) = Σ_v |ball(v, t)| reads off the
    * ladder and the 90% effective diameter interpolates the first t
    * with N(t) ≥ 0.9·N(∞) — the Boldi–Rosa–Vigna readout crawl audits
    * quote. N(0) is the exact node count; each N(t) is an
    * order-independent [[Tables.dsum]] decimal sum of the per-node
    * portable-HLL estimates, so every ladder value — and the one
    * IEEE-double interpolation — is engine-identical and the ENTIRE
    * run (rounds, saturation depth, readout arithmetic) replays in
    * the oracle ([[effectiveDiameterSql]]).
    *
    * Returns one row per LADDER point (t, nf, d90) for t = 0..T_sat —
    * rounds past saturation are not emitted (the oracle filters its
    * fixed-depth unroll by the same changed-register rule). The
    * readout windows run over the T_sat-row ladder — a documented tiny
    * frame. Fails loud past `maxRounds` (the [[kCoreFixedPoint]]
    * posture): an unsaturated ladder would silently misstate N(∞).
    *
    * Scale: identical per-round shape to [[neighborhoodFunction]]
    * (≤256 register rows per node through the |E| join) plus one
    * register-table anti-join per round for the change count. */
  def effectiveDiameter(edges: DataFrame, srcCol: String, dstCol: String,
                        maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    import graft.functions.{HllRegs, PortableSketches}
    import PortableSketches._
    val canon = canonPairs(edges, srcCol, dstCol)
    val e = Checkpointing.truncateSer(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(canon.select(col("b").as("src"), col("a").as("dst"))))
    val nodes = Checkpointing.truncate(
      e.select(col("src").as("node")).distinct())
    var regs = Checkpointing.truncate(nodes
      .select(col("node"), hllDigest(col("node")).as("__d"))
      .select(col("node"), HllRegs.regInit(hllBucket(col("__d")),
        hllRho(col("__d"))).as("regs")))
    def nfRow(t: Int, r: DataFrame): DataFrame = Checkpointing.truncate(
      r.select(HllRegs.regEstimate(col("regs")).as("ball_est"))
        .agg(Tables.dsum(col("ball_est"), 4).as("nf"))
        .select(lit(t).cast("int").as("t"), coalesce(col("nf"), lit(0.0)).as("nf")))
    val ladder = Seq.newBuilder[DataFrame]
    ladder += Checkpointing.truncate(nodes.agg(
      lit(0).cast("int").as("t"), count(lit(1)).cast("double").as("nf")))
    var t = 0
    var satT = -1
    while (satT < 0) {
      t += 1
      if (t > maxRounds)
        throw new IllegalStateException(
          s"HyperANF ladder exceeded $maxRounds rounds without saturating" +
            " — raise maxRounds deliberately for a diameter this large")
      val next = Checkpointing.truncate(
        regs.unionAll(e
            .join(regs.select(col("node").as("src"), col("regs")),
              Seq("src"))
            .select(col("dst").as("node"), col("regs")))
          .groupBy("node").agg(HllRegs.regMax(col("regs")).as("regs")))
      // monotone registers: a round changed something ⇔ some node's
      // packed set differs from its previous row (node sets are equal
      // across rounds, so the inner node-join covers every node)
      val changed = next
        .join(regs.withColumnRenamed("regs", "__or"), Seq("node"))
        .where(col("regs") =!= col("__or")).count()
      if (changed == 0L) { satT = t - 1; Checkpointing.release(next) }
      else {
        Checkpointing.release(regs)
        regs = next
        ladder += nfRow(t, regs)
      }
    }
    val lad = ladder.result().reduce(_ unionAll _)
    // readout over the T_sat-row ladder (documented tiny global window)
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
    val wp = lad.withColumn("__prev", lag(col("nf"), 1).over(w))
    val tot = lad.agg(max(struct(col("t"), col("nf"))).as("__m"))
      .select(col("__m.nf").as("__nft"))
    val d90 = wp.crossJoin(broadcast(tot))
      .where(col("nf") * 10.0 >= col("__nft") * 9.0 &&
        (col("__prev").isNull || col("__prev") * 10.0 < col("__nft") * 9.0))
      .select(when(col("__prev").isNull, lit(0.0))
        .otherwise((col("t") - 1) +
          (lit(9.0) * col("__nft") - lit(10.0) * col("__prev")) /
            (lit(10.0) * (col("nf") - col("__prev")))).as("d90"))
    lad.crossJoin(broadcast(d90)).select("t", "nf", "d90").orderBy("t")
  }

  /** DuckDB twin of [[effectiveDiameter]]: `iters` register rounds
    * unrolled, each ladder row EMITTED only if its round changed a
    * register (the engine's saturation rule), a guard CTE that returns
    * zero rows unless round `iters` changed nothing (a too-shallow
    * unroll fails loudly — the [[kCoreSql]] assertFixedPoint posture),
    * and the same dsum + IEEE interpolation readout. `edgesCte` must
    * define `e(src, dst)` — the SYMMETRIZED simple edge set. */
  def effectiveDiameterSql(edgesCte: String, iters: Int,
                           tAs: String = "t"): String = {
    require(iters >= 1)
    import graft.functions.PortableSketches._
    val rounds = (1 to iters).map { t =>
      s"""nr$t AS MATERIALIZED (
         |  SELECT node, bucket, max(r) AS r FROM (
         |    SELECT node, bucket, r FROM nr${t - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.bucket, p.r
         |    FROM e JOIN nr${t - 1} p ON p.node = e.src
         |  ) GROUP BY 1, 2
         |), chg$t AS (
         |  SELECT count(*) AS c FROM (
         |    SELECT node, bucket, r FROM nr$t
         |    EXCEPT
         |    SELECT node, bucket, r FROM nr${t - 1})
         |), nf$t AS (
         |  SELECT CAST($t AS INT) AS t, $nfEstSql AS nf
         |  FROM (SELECT node, sum($hllRegisterTermSql) AS zsum,
         |               count(*) AS present
         |        FROM nr$t GROUP BY node)
         |  HAVING (SELECT c FROM chg$t) > 0
         |)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to iters)
      .map(t => s"SELECT t, nf FROM nf$t")
      .mkString("\nUNION ALL\n")
    s"""WITH $edgesCte,
       |n AS (SELECT DISTINCT src AS node FROM e),
       |nr0 AS MATERIALIZED (
       |  SELECT node, ${hllBucketSql("d")} AS bucket, ${hllRhoSql("d")} AS r
       |  FROM (SELECT node, ${hllDigestSql("node")} AS d FROM n)
       |),
       |$rounds,
       |schk AS (SELECT 1 AS ok WHERE (SELECT c FROM chg$iters) = 0),
       |lad AS (
       |  SELECT CAST(0 AS INT) AS t, CAST(count(*) AS DOUBLE) AS nf FROM n
       |  UNION ALL
       |$unions
       |),
       |tot AS (SELECT nf AS nft FROM lad ORDER BY t DESC LIMIT 1),
       |wp AS (SELECT t, nf, lag(nf) OVER (ORDER BY t) AS prev FROM lad),
       |d90 AS (
       |  SELECT CASE WHEN prev IS NULL THEN 0.0
       |              ELSE (t - 1) + (9.0 * nft - 10.0 * prev)
       |                             / (10.0 * (nf - prev)) END AS d90
       |  FROM wp CROSS JOIN tot
       |  WHERE nf * 10.0 >= nft * 9.0
       |    AND (prev IS NULL OR prev * 10.0 < nft * 9.0)
       |)
       |SELECT w.t AS $tAs, w.nf, d.d90
       |FROM wp w CROSS JOIN d90 d CROSS JOIN schk
       |ORDER BY 1""".stripMargin
  }

  /** [[Tables.dsumSql]] over the per-node HLL estimate — the N(t)
    * column of [[effectiveDiameterSql]]'s ladder. */
  private def nfEstSql: String = {
    import graft.functions.PortableSketches._
    s"coalesce(${Tables.dsumSql(hllEstimateSql("zsum", "present"), 4)}, 0.0)"
  }

  /** Distinct triangles of a CANONICAL simple edge table `e(a, b)`
    * (a < b), emitted as id-sorted corner triples (x < y < z) — the
    * degree-oriented enumeration [[triangleStats]] runs (every wedge
    * at its (degree, id)-smallest corner, oriented out-degree O(√m)
    * under any skew), reused per peel round by [[kTruss]]. */
  private def triangleTriples(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val o = e
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("u"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("v"),
        when(col("__da") <= col("__db"), col("__db")).otherwise(col("__da"))
          .as("dv"))
    val wedges = o.select(col("u"), col("v").as("v1"), col("dv").as("__d1"))
      .join(o.select(col("u"), col("v").as("v2"), col("dv").as("__d2")),
        Seq("u"))
      .where(col("__d1") < col("__d2") ||
        (col("__d1") === col("__d2") && col("v1") < col("v2")))
    wedges.join(
        o.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"), "left_semi")
      .select(least(col("u"), col("v1"), col("v2")).as("x"),
        (col("u") + col("v1") + col("v2") -
          least(col("u"), col("v1"), col("v2")) -
          greatest(col("u"), col("v1"), col("v2"))).as("y"),
        greatest(col("u"), col("v1"), col("v2")).as("z"))
  }

  /** k-truss decomposition — the EDGE-level pruning companion to
    * [[kCore]] (an edge survives only while it closes ≥ k−2
    * triangles in the surviving subgraph): iterative synchronous
    * edge peel, each round one triangle enumeration
    * ([[triangleTriples]] — degree-oriented, skew-proof) + one
    * corner-pair count + one edge filter. Synchronous removal is
    * schedule-free, so the fixed-`iters` prefix is deterministic and
    * the unrolled-CTE oracle replays it verbatim — with the oracle
    * counting each round's triangles by the independent plain a<b<c
    * three-way join (the q220 two-algorithms posture, here applied
    * per round). The k-truss is the standard stronger-than-k-core
    * community-core filter: k-core keeps nodes with many neighbors,
    * k-truss keeps edges embedded in dense triangle mesh (every
    * k-truss edge is in the (k−1)-core, never vice versa).
    *
    * Returns surviving canonical edges (a, b, support) — support =
    * the edge's triangle count in the LAST round's subgraph (the
    * count that justified keeping it). `iters` bounds the peel;
    * rounds after the fixed point are no-ops. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, iters: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var e = Checkpointing.truncateSer(edges
      .select(col(srcCol).cast("long").as("__x"),
        col(dstCol).cast("long").as("__y"))
      .where(col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("a"),
        greatest(col("__x"), col("__y")).as("b"))
      .distinct())
    var last: DataFrame = e.limit(0).withColumn("support", lit(0L))
    for (_ <- 1 to iters) {
      val tri = triangleTriples(e)
      val sup = tri.select(col("x").as("a"), col("y").as("b"))
        .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
        .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      val prev = e
      val kept = e.join(sup, Seq("a", "b"))
        .where(col("support") >= k - 2)
      last = Checkpointing.truncateSer(kept)
      e = last.select(col("a"), col("b"))
      Checkpointing.release(prev)
    }
    last
  }

  /** DuckDB twin of [[kTruss]]: the same `iters` peel rounds, each
    * round's triangles counted by the plain a<b<c three-way join (an
    * INDEPENDENT algorithm from Spark's degree-oriented wedge
    * enumeration — same result set is the check). `edgesCte` must
    * define `e0(a, b)` — canonical simple pairs, a < b. */
  def kTrussSql(edgesCte: String, k: Int, iters: Int): String = {
    require(k >= 3 && iters >= 1)
    val rounds = (1 to iters).map { t =>
      s"""tr$t AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM te${t - 1} e1
         |  JOIN te${t - 1} e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN te${t - 1} e3 ON e3.a = e1.b AND e3.b = e2.b
         |), sup$t AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
         |    SELECT x AS a, y AS b FROM tr$t
         |    UNION ALL SELECT x, z FROM tr$t
         |    UNION ALL SELECT y, z FROM tr$t)
         |  GROUP BY 1, 2
         |), te$t AS MATERIALIZED (
         |  SELECT e.a, e.b, s.support
         |  FROM te${t - 1} e JOIN sup$t s ON s.a = e.a AND s.b = e.b
         |  WHERE s.support >= ${k - 2}
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |te0 AS (SELECT a, b, CAST(0 AS BIGINT) AS support FROM e0),
       |$rounds
       |SELECT a, b, support FROM te$iters""".stripMargin
  }

  /** Incremental triangle maintenance: advance [[triangleStats]]'
    * output with an EDGE DELTA without re-counting the corpus
    * (round-12 verdict #5 — the graph grows per crawl; only
    * triangles USING a new edge are new). `prevStats` must be the
    * [[triangleStats]] result over `prevEdges` (canonical column
    * names node/degree/n_triangles/clustering); `delta` holds the
    * new edges in any orientation. Returns the stats table equal (to
    * the bit — counts are integers, clustering the same one
    * multiply/divide) to a full re-count over prevEdges ∪ delta,
    * which is exactly what the differential oracle checks.
    *
    * Shape: the fresh delta D canonicalizes and drops edges already
    * present (anti-join). Every NEW triangle contains ≥1 D edge, so
    * enumerating common neighbors of each D edge's endpoints over
    * the NEW adjacency finds them all; DISTINCT over the sorted
    * corner triple collapses the multi-counting when a triangle has
    * 2 or 3 delta edges. Per-corner increments then merge into the
    * old table with a node-keyed outer join: untouched nodes pass
    * through byte-identical, new nodes enter with coalesce(old, 0).
    *
    * Scale: the candidate join is |D|-bounded (each D edge probes
    * the adjacency of its two endpoints — never the corpus pair
    * set); the merge is one node-keyed outer join where only
    * touched keys carry increments. The delta-sized frames go
    * through [[Dedup.maybeBroadcast]] so a crawl-sized delta falls
    * back to shuffle joins instead of a forced broadcast. */
  /** Per-corner counts of the DISTINCT triangles of canonical
    * adjacency `adj(a, b)` that contain at least one `d(a, b)` edge:
    * common neighbors of each d edge's endpoints (expand on the
    * smaller-DEGREE endpoint, semi-probe the other), sorted corner
    * triples deduped (a triangle with 2-3 d edges enumerates from
    * each but counts once), exploded to (node, __ti). |D|·min-degree-
    * bounded — never the corpus pair set. Shared by
    * [[advanceTriangleStats]] (adj = new graph, increments) and
    * [[retractTriangleStats]] (adj = OLD graph, decrements). */
  private def deltaTriangleCorners(adj: DataFrame, d: DataFrame,
                                   dCnt: Long): DataFrame = {
    val sym = adj.select(col("a").as("u"), col("b").as("v"))
      .unionAll(adj.select(col("b").as("u"), col("a").as("v")))
    // DEGREE-ORIENTED expansion (round-13 verdict What's-wrong #3):
    // each delta edge enumerates common neighbors from its smaller-
    // DEGREE endpoint, not its smaller-ID one — a delta edge touching
    // a hub whose id happens to be smaller emits deg(other) candidate
    // rows instead of deg(hub). Costs one map-side-combined degree
    // count over adj; the candidate TRIANGLE set is unchanged (the
    // sorted-triple DISTINCT), so results stay bit-identical.
    val deg = sym.groupBy("u").agg(count(lit(1)).as("__dg"))
    val dh = Dedup.maybeBroadcast(d, dCnt)
    val dOr = dh
      .join(deg.select(col("u").as("a"), col("__dg").as("__da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("__dg").as("__db")), Seq("b"))
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("lo"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("hi"))
    val cand = Dedup.maybeBroadcast(dOr, dCnt)
      .join(sym.select(col("u").as("lo"), col("v").as("w")), Seq("lo"))
      .join(sym.select(col("u").as("hi"), col("v").as("w")),
        Seq("hi", "w"), "left_semi")
    // sorted corner triple; middle = sum − min − max (exact longs)
    cand.select(
        least(col("lo"), col("hi"), col("w")).as("x"),
        (col("lo") + col("hi") + col("w") -
          least(col("lo"), col("hi"), col("w")) -
          greatest(col("lo"), col("hi"), col("w"))).as("y"),
        greatest(col("lo"), col("hi"), col("w")).as("z"))
      .distinct()
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__ti"))
  }

  /** Canonical simple undirected pairs of an arbitrary edge frame:
    * (a, b) with a < b, self-loops dropped, distinct — the
    * normalization every triangle/core operator applies and the exact
    * shape [[GraphState]]'s maintained `<name>_edges` table stores. */
  private[ops] def canonPairs(df: DataFrame, srcCol: String,
                              dstCol: String): DataFrame = df
    .select(col(srcCol).cast("long").as("__x"),
      col(dstCol).cast("long").as("__y"))
    .where(col("__x") =!= col("__y"))
    .select(least(col("__x"), col("__y")).as("a"),
      greatest(col("__x"), col("__y")).as("b"))
    .distinct()

  /** Fresh (not-already-present) rows of canonical delta `canD` vs the
    * canonical edge set `oldE`, returned (maybe-broadcast, count).
    * When the delta fits the broadcast gate the edge table is SCANNED
    * once (broadcast semi-probe → delta-bounded `present` set) but
    * never SHUFFLED — the anti-join runs delta-vs-present, both
    * delta-sized. A crawl-scale delta falls back to the plain
    * shuffled anti-join. */
  private def freshDelta(oldE: DataFrame, canD: DataFrame): (DataFrame, Long) = {
    // materialize the canonicalized delta ONCE up front (round-15): the
    // raw delta can itself be an expensive construction (q224's is a
    // lineitem self-join + distinct), and the lazy form was re-executed
    // by the gate count, the broadcast build, the anti-join probe AND
    // the final truncate — 4 computations of the same frame. Same for
    // the fresh set: truncate BEFORE counting so the count reads the
    // materialized blocks instead of re-running the oldE probe.
    val c = Checkpointing.truncate(canD)
    val cnt0 = c.count()
    val d0 =
      if (cnt0 <= Dedup.broadcastIdLimit(c)) {
        val present = oldE.join(broadcast(c), Seq("a", "b"), "left_semi")
        c.join(broadcast(present), Seq("a", "b"), "left_anti")
      } else c.join(oldE, Seq("a", "b"), "left_anti")
    val d1 = Checkpointing.truncate(d0)
    val dCnt = d1.count()
    (Dedup.maybeBroadcast(d1, dCnt), dCnt)
  }

  def advanceTriangleStats(prevStats: DataFrame, prevEdges: DataFrame,
                           srcCol: String, dstCol: String,
                           delta: DataFrame): DataFrame =
    advanceTriangleCore(prevStats, canonPairs(prevEdges, srcCol, dstCol),
      canonPairs(delta, srcCol, dstCol))._2

  /** The COLD-START advance — [[triangleStats]] over `baseEdges`
    * followed by [[advanceTriangleStats]] with `delta`, sharing ONE
    * materialized canonicalization of the base (round-15 optimization):
    * the separate-call shape re-executes the raw base construction and
    * its |E| canonicalization distinct twice (once inside each call).
    * Results are bit-identical to the two-call composition — only the
    * duplicated base work is gone. A real maintenance deployment never
    * runs this (it reads the previous stats from [[GraphState]]); this
    * is the differential-gate shape that must CONSTRUCT its own
    * previous state. */
  def advanceTriangleStatsCold(baseEdges: DataFrame, srcCol: String,
                               dstCol: String, delta: DataFrame): DataFrame = {
    val canon = Checkpointing.truncateSer(canonPairs(baseEdges, srcCol, dstCol))
    advanceTriangleCore(triangleStatsCore(canon), canon,
      canonPairs(delta, srcCol, dstCol))._2
  }

  /** Cold-start twin of [[retractTriangleStats]] — one shared base
    * canonicalization (see [[advanceTriangleStatsCold]]). */
  def retractTriangleStatsCold(baseEdges: DataFrame, srcCol: String,
                               dstCol: String, removed: DataFrame): DataFrame = {
    val canon = Checkpointing.truncateSer(canonPairs(baseEdges, srcCol, dstCol))
    retractTriangleCore(triangleStatsCore(canon), canon,
      canonPairs(removed, srcCol, dstCol))._2
  }

  /** The advance over an ALREADY-CANONICAL previous edge set — the
    * maintained-state path ([[GraphState.advanceTriangleState]]):
    * `oldE` must be canonical pairs (what the state table stores), so
    * NO per-advance re-canonicalization of history happens (the
    * round-13 verdict's What's-wrong #1 — the raw-history overload
    * above pays a full |E| distinct per call; this path never does).
    * Returns (newEdges, newStats) as UNMATERIALIZED plans — the
    * caller stages/writes them. */
  private[ops] def advanceTriangleCore(prevStats: DataFrame, oldE: DataFrame,
                                       canD: DataFrame): (DataFrame, DataFrame) = {
    val (d, dCnt) = freshDelta(oldE, canD)
    val newE = Checkpointing.truncateSer(oldE.unionAll(d))
    val triInc = deltaTriangleCorners(newE, d, dCnt)
    val degInc = d.select(col("a").as("node"))
      .unionAll(d.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__di"))
    val stats = prevStats
      .join(triInc, Seq("node"), "full_outer")
      .join(degInc, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("__di"), lit(0L)))
          .as("degree"),
        (coalesce(col("n_triangles"), lit(0L)) + coalesce(col("__ti"), lit(0L)))
          .as("n_triangles"))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          lit(2.0) * col("n_triangles") / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
    (newE, stats)
  }

  /** The DELETION side of [[advanceTriangleStats]] — retract an edge
    * set (crawl takedowns, robots revocations) from the stats table
    * without a full re-count. Same |D|-bounded shape, mirrored:
    * destroyed triangles are the OLD graph's triangles containing a
    * removed edge (enumerated over the pre-removal adjacency —
    * including the removed edges themselves), corner counts
    * decrement, degrees drop by removed-edge incidence, and nodes
    * isolated by the removal leave the table (matching a full
    * re-count, which never emits degree-0 nodes). Removed edges not
    * actually present are ignored (semi-join), duplicates collapse.
    * Retract(advance(S, D), D) ≡ S by construction; the differential
    * oracle checks retract ≡ full re-count on the remaining edges. */
  def retractTriangleStats(prevStats: DataFrame, prevEdges: DataFrame,
                           srcCol: String, dstCol: String,
                           removed: DataFrame): DataFrame =
    retractTriangleCore(prevStats,
      Checkpointing.truncateSer(canonPairs(prevEdges, srcCol, dstCol)),
      canonPairs(removed, srcCol, dstCol))._2

  /** Retraction over an ALREADY-CANONICAL previous edge set — the
    * maintained-state twin of [[advanceTriangleCore]]. The
    * actually-present removed set is broadcast-probed the same way
    * (one |E| scan, zero |E| shuffle, delta-bounded result), and the
    * surviving edge set is a broadcast anti-join — so neither output
    * plan exchanges the edge table. Returns (newEdges, newStats). */
  private[ops] def retractTriangleCore(prevStats: DataFrame, oldE: DataFrame,
                                       canR: DataFrame): (DataFrame, DataFrame) = {
    // one materialization of the canonicalized removal set + one of the
    // present set (freshDelta's round-15 discipline)
    val c = Checkpointing.truncate(canR)
    val cnt0 = c.count()
    val d0 =
      if (cnt0 <= Dedup.broadcastIdLimit(c))
        oldE.join(broadcast(c), Seq("a", "b"), "left_semi")
      else c.join(oldE, Seq("a", "b"), "left_semi")
    val d1 = Checkpointing.truncate(d0)
    val dCnt = d1.count()
    val d = Dedup.maybeBroadcast(d1, dCnt)
    val newE = oldE.join(d, Seq("a", "b"), "left_anti")
    val triDec = deltaTriangleCorners(oldE, d, dCnt)
    val degDec = d.select(col("a").as("node"))
      .unionAll(d.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__dd"))
    val stats = prevStats
      .join(triDec, Seq("node"), "left")
      .join(degDec, Seq("node"), "left")
      .select(col("node"),
        (col("degree") - coalesce(col("__dd"), lit(0L))).as("degree"),
        (col("n_triangles") - coalesce(col("__ti"), lit(0L)))
          .as("n_triangles"))
      .where(col("degree") > 0)
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          lit(2.0) * col("n_triangles") / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
    (newE, stats)
  }

  /** DuckDB twin of [[pageRankWeighted]] (`edgesCte` must define
    * e(src, dst, w)). The per-term quantization floors rank/wdeg·w —
    * the SAME association order as the Spark expression
    * (divide-then-multiply), which is what makes the IEEE product
    * bit-identical before the floor. */
  def pageRankWeightedSql(edgesCte: String, iters: Int,
                          damping: Double = 0.85): String = {
    require(iters >= 1)
    val dsum = "CAST(CAST(SUM(CAST(CAST(floor(r.rank / r.w_deg * e.w * " +
      "1000000000000.0) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) " +
      "AS DOUBLE) / 1000000000000.0"
    val rounds = (1 to iters).map { t =>
      s"""a$t AS (
         |  SELECT e.dst AS node, $dsum AS s
         |  FROM e JOIN r${t - 1} r ON e.src = r.node AND r.w_deg > 0
         |  GROUP BY 1
         |), r$t AS (
         |  SELECT n.node, n.w_deg,
         |         ${1.0 - damping} / (SELECT n FROM nn) +
         |           $damping * COALESCE(a.s, 0.0) AS rank
         |  FROM nodes n LEFT JOIN a$t a ON a.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |deg AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS wd
       |        FROM e GROUP BY 1),
       |nodes AS (
       |  SELECT v.node, COALESCE(d.wd, 0) AS w_deg
       |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) v
       |  LEFT JOIN deg d ON d.node = v.node
       |),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, w_deg, 1.0 / (SELECT n FROM nn) AS rank
       |       FROM nodes),
       |$rounds
       |SELECT node, w_deg, rank FROM r$iters""".stripMargin
  }
}
