package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EditJoin, Incremental, Relevance}
import graft.ops.Tables._

/** Round-9 closing extensions — the q15x family: string-edit
  * similarity join, positional-index phrase search, incremental
  * aggregate maintenance, robust outliers, key-skew profiling, and
  * fixed-iteration link analysis. One bench key (q15x rollup) —
  * per-entry numbers via SPARK_GRAFT_ONLY.
  */
object CatalogML4 {
  type Q = (SparkSession, String) => DataFrame

  /** Typo'd-name fixture both engines derive identically from every
    * 5th part row (TPC-H color-word names are SO self-similar that
    * the full table yields 4.3M true pairs at sf0.1 — real work, but
    * a wasteful gate entry; the 1-in-5 slice keeps the shape at ~2%
    * of the volume): each kept key takes its PREDECESSOR-in-slice's
    * name (id-5 self-join — no global-sort lag window) and, by
    * (id div 5) mod 4, either keeps its own name or injects one
    * substitution / one deletion / one prepended char — so every
    * 4-block guarantees a distance-1 pair and the join has real
    * engineered matches at every scale (plus the organic color-word
    * coincidences). */
  private def typoNames(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "part")
      .where(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("id"), col("p_name"))
    val prev = raw.select((col("id") + 5).as("id"),
      col("p_name").as("__prev"))
    raw.join(prev, Seq("id"), "left")
      .withColumn("__prev", coalesce(col("__prev"), col("p_name")))
      .withColumn("__m", expr("(id div 5) % 4"))
      .select(col("id"),
        when(col("__m") === 1,
            concat(substring(col("__prev"), 1, 4), lit("x"),
              substring(col("__prev"), 6, 1000000)))
          .when(col("__m") === 2,
            concat(substring(col("__prev"), 1, 7),
              substring(col("__prev"), 9, 1000000)))
          .when(col("__m") === 3, concat(lit("x"), col("__prev")))
          .otherwise(col("p_name")).as("name"))
  }

  private val typoNamesSql: String =
    """sel AS (
      |  SELECT r.p_partkey AS id,
      |         CASE CAST((r.p_partkey // 5) % 4 AS INT)
      |           WHEN 1 THEN substr(pv.prev, 1, 4) || 'x' ||
      |             substr(pv.prev, 6, 1000000)
      |           WHEN 2 THEN substr(pv.prev, 1, 7) ||
      |             substr(pv.prev, 9, 1000000)
      |           WHEN 3 THEN 'x' || pv.prev
      |           ELSE r.p_name END AS name
      |  FROM part r
      |  JOIN (SELECT a.p_partkey AS id,
      |               COALESCE(b.p_name, a.p_name) AS prev
      |        FROM part a LEFT JOIN part b
      |          ON b.p_partkey = a.p_partkey - 5
      |         AND b.p_partkey % 5 = 0
      |        WHERE a.p_partkey % 5 = 0) pv
      |    ON pv.id = r.p_partkey
      |  WHERE r.p_partkey % 5 = 0
      |)""".stripMargin

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // Exact edit-distance similarity join (Ed-Join): every name pair
    // within Levenshtein 2, via the rarest-q-gram prefix filter + one
    // bucket-local pair exchange + thresholded-DP verify — never the
    // O(N²) scan. The oracle IS the O(N²) definition, kept tractable
    // by the same |Δlen| ≤ d necessary condition expressed as a
    // length-band EQUALITY join (the shorter side fans out to its d+1
    // reachable partner lengths).
    ("q150_dedup_edit_join", (s: SparkSession, d: String) => {
      EditJoin.editJoin(spread(typoNames(s, d), "id"), "id", "name",
          maxDist = 2, q = 4)
        .orderBy("id_a", "id_b")
    }, Some(
      s"""WITH $typoNamesSql,
         |lens AS (SELECT id, name, len(name) AS l FROM sel),
         |fan AS (
         |  SELECT id, name, l, l + u.k AS tgt
         |  FROM lens, (SELECT unnest([0, 1, 2]) AS k) u
         |),
         |cand AS (
         |  SELECT a.id AS ia, a.name AS na, b.id AS ib, b.name AS nb
         |  FROM fan a JOIN lens b ON b.l = a.tgt
         |  WHERE (a.l < b.l) OR (a.l = b.l AND a.id < b.id)
         |)
         |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
         |       CAST(levenshtein(na, nb) AS BIGINT) AS dist
         |FROM cand
         |WHERE levenshtein(na, nb) <= 2
         |ORDER BY id_a, id_b""".stripMargin)),

    // Exact phrase search over a positional inverted index: postings
    // (term, doc, pos) filtered to the query terms BEFORE any
    // exchange, then k−1 adjacency joins keyed on (doc, start) — the
    // inverted-index probe shape, not a per-doc regex scan. The "a a"
    // phrase pins the OVERLAPPING-occurrence semantics (token
    // adjacency counts "a a a" twice; a substring replace-count would
    // say once). Oracle replays the identical adjacency joins on
    // DuckDB's unnest/generate_subscripts positions.
    ("q151_search_phrase", (s: SparkSession, d: String) => {
      Relevance.phraseSearch(
          spread(table(s, d, "documents"), "doc_id"), "doc_id", "text",
          Q151Phrases)
        .orderBy("phrase", "id")
    }, Some(
      Relevance.phraseSearchSql("documents", "doc_id", "text",
        Q151Phrases) + "\nORDER BY phrase, id")),
    // Incremental aggregate maintenance: partial-agg state AS DATA.
    // The gate runs the REAL maintenance flow — base-epoch state
    // persisted to a table, a delta epoch folded in via the
    // stage-and-swap advance — and the result must equal the
    // from-scratch aggregate (the oracle), which is exactly the
    // monoid-merge guarantee (count/DECIMAL-sum/min/max all
    // commutative monoids; avg derived at finish). At 100 TB the
    // delta is the only corpus-sized scan; the merge shuffles
    // group-cardinality rows.
    ("q152_incr_agg_state", (s: SparkSession, d: String) => {
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q152_state_$tag"
      graft.ops.Tables.dropTablesAndDirs(s, st, s"${st}__next", s"${st}__old")
      val orders = table(s, d, "orders")
      val cut = "TIMESTAMP '1997-01-01'"
      Incremental.aggState(orders.where(expr(s"o_orderdate < $cut")),
          Seq("o_orderpriority"), "o_totalprice")
        .write.saveAsTable(st)
      Incremental.advanceStateTable(s, st,
        orders.where(expr(s"o_orderdate >= $cut")),
        Seq("o_orderpriority"), "o_totalprice")
      Incremental.finish(s.table(st), Seq("o_orderpriority"))
        .orderBy("o_orderpriority")
    }, Some(
      s"""SELECT o_orderpriority,
         |       CAST(count(o_totalprice) AS BIGINT) AS n,
         |       ${graft.ops.Tables.dsumSql("o_totalprice")} AS total,
         |       ${graft.ops.Tables.dsumSql("o_totalprice")} /
         |         count(o_totalprice) AS avg,
         |       min(o_totalprice) AS mn, max(o_totalprice) AS mx
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Robust per-group outliers: median/MAD fences over cent-floored
    // integers (floor(v·100): IEEE multiply + floor — no round-half
    // convention, no double-sum class anywhere), both medians by the
    // q144 counting CDF, fence = integer compare. The oracle replays
    // the identical two-level CDF; zero-outlier groups keep NULL
    // extremes on both engines.
    ("q153_profile_robust_outliers", (s: SparkSession, d: String) => {
      graft.ops.Profile.robustOutliersBy(
          spread(table(s, d, "events"), "event_id"), "event_type", "value",
          k = 3)
        .orderBy("event_type")
    }, Some(
      """WITH c AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), vc AS (
        |  SELECT event_type, v, count(*) AS ct FROM c GROUP BY 1, 2
        |), vcum AS (
        |  SELECT event_type, v,
        |         SUM(ct) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |         SUM(ct) OVER (PARTITION BY event_type) AS n
        |  FROM vc
        |), med AS (
        |  SELECT event_type, MIN(v) AS med, CAST(MIN(n) AS BIGINT) AS n
        |  FROM vcum WHERE cum >= (n * 50 + 99) // 100 GROUP BY 1
        |), dev AS (
        |  SELECT c.event_type, c.v, abs(c.v - m.med) AS dv
        |  FROM c JOIN med m USING (event_type)
        |), dc AS (
        |  SELECT event_type, dv, count(*) AS ct FROM dev GROUP BY 1, 2
        |), dcum AS (
        |  SELECT event_type, dv,
        |         SUM(ct) OVER (PARTITION BY event_type ORDER BY dv) AS cum,
        |         SUM(ct) OVER (PARTITION BY event_type) AS n
        |  FROM dc
        |), mad AS (
        |  SELECT event_type, MIN(dv) AS mad
        |  FROM dcum WHERE cum >= (n * 50 + 99) // 100 GROUP BY 1
        |), fenced AS (
        |  SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_out,
        |         MIN(d.v) AS omin, MAX(d.v) AS omax
        |  FROM dev d JOIN mad USING (event_type)
        |  WHERE d.dv > 3 * mad.mad GROUP BY 1
        |)
        |SELECT m.event_type, m.n, m.med AS med_cents, mad.mad AS mad_cents,
        |       COALESCE(f.n_out, 0) AS n_outliers,
        |       f.omin AS out_min_cents, f.omax AS out_max_cents
        |FROM med m JOIN mad USING (event_type)
        |LEFT JOIN fenced f USING (event_type)
        |ORDER BY m.event_type""".stripMargin)),
    // Key-distribution (skew) profile over events' candidate shuffle
    // keys: unique (event_id), low-cardinality (event_type), zipf-ish
    // (user_id). Entropy via the portable integer-ln series, Gini via
    // the exact DECIMAL rank-sum — both term-exact then string-routed,
    // so the doubles match DuckDB bit-for-bit. event_id pins the
    // uniform edge (gini 0, entropy ln n).
    ("q154_profile_key_skew", (s: SparkSession, d: String) => {
      graft.ops.Profile.keyDistribution(
          spread(table(s, d, "events"), "event_id"),
          Seq("event_id", "event_type", "user_id"))
        .orderBy("col_name")
    }, Some {
      import graft.functions.PortableSketches.lnOfIntSql
      s"""WITH p AS (
         |  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS val
         |  FROM events WHERE event_id IS NOT NULL
         |  UNION ALL
         |  SELECT 'event_type', event_type FROM events
         |  WHERE event_type IS NOT NULL
         |  UNION ALL
         |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
         |  WHERE user_id IS NOT NULL
         |), c AS (
         |  SELECT col_name, val, count(*) AS ct FROM p GROUP BY 1, 2
         |), runs AS (
         |  SELECT col_name, ct, count(*) AS m,
         |         SUM(count(*)) OVER (PARTITION BY col_name ORDER BY ct)
         |           - count(*) + 1 AS rstart
         |  FROM c GROUP BY col_name, ct
         |), a AS (
         |  SELECT col_name, CAST(SUM(ct * m) AS BIGINT) AS n,
         |         CAST(SUM(m) AS BIGINT) AS n_distinct,
         |         CAST(MAX(ct) AS BIGINT) AS top_count,
         |         CAST(CAST(SUM(CAST(ct AS DECIMAL(38,0)) *
         |           (m * rstart + (m * (m - 1)) // 2)) AS VARCHAR)
         |           AS DOUBLE) AS s1,
         |         CAST(CAST(SUM(CAST((ct * ${lnOfIntSql("ct")}) * m
         |           AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS slnc
         |  FROM runs GROUP BY 1
         |)
         |SELECT col_name, n, n_distinct, top_count,
         |       CAST(top_count AS DOUBLE) / n AS top_share,
         |       ${lnOfIntSql("n")} - slnc / n AS entropy_nats,
         |       2.0 * s1 / (CAST(n_distinct AS DOUBLE) * CAST(n AS DOUBLE))
         |         - CAST(n_distinct + 1 AS DOUBLE) / n_distinct AS gini
         |FROM a ORDER BY col_name""".stripMargin
    }),
    // Fixed-iteration damped PageRank over the symmetrized customer↔
    // supplier interaction graph (distinct purchase pairs; supplier
    // ids offset into their own space). Three power-method rounds,
    // each one |E| join + one DECIMAL(38,12) contribution sum — the
    // decimal discipline is what makes an ITERATIVE algorithm
    // bit-portable enough to carry a full differential oracle (the
    // same three rounds unrolled as a DuckDB CTE chain).
    ("q155_graph_pagerank", (s: SparkSession, d: String) => {
      val e0 = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000000L).as("s2"))
        .distinct()
      val edges = e0.select(col("c").as("src"), col("s2").as("dst"))
        .unionAll(e0.select(col("s2").as("src"), col("c").as("dst")))
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("node")
    }, Some(
      graft.ops.Graph.pageRankSql(
        """e0 AS (
          |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS s2
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |),
          |e AS (SELECT c AS src, s2 AS dst FROM e0
          |      UNION ALL SELECT s2, c FROM e0)""".stripMargin,
        iters = 3) + "\nORDER BY node")),
    // The persisted half of the inverted index (q151's build-once
    // sibling, the q93/q138 pattern for IR): postings written to a
    // bucketed term-sorted table, a "new crawl" slice appended WITHOUT
    // re-reading the archive, then the phrase probe answered from the
    // index alone — same adjacency core, so the oracle is q151's SQL
    // over the unioned corpus.
    ("q156_search_phrase_indexed", (s: SparkSession, d: String) => {
      val tag = Integer.toHexString(d.hashCode)
      val pt = s"q156_postings_$tag"
      graft.ops.Tables.dropTablesAndDirs(s, pt)
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      Relevance.writePostingsIndex(docs, "doc_id", "text", pt)
      val crawl2 = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      Relevance.appendToPostingsIndex(crawl2, "doc_id", "text", pt)
      Relevance.phraseSearchFromIndex(s, pt, Q151Phrases)
        .orderBy("phrase", "id")
    }, Some(
      Relevance.phraseSearchSql(
        """(SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 1000000000, text FROM documents
          | WHERE doc_id % 7 = 0) u""".stripMargin,
        "doc_id", "text", Q151Phrases) + "\nORDER BY phrase, id")),
    // BM25 ranked retrieval from the SAME index family q156 builds —
    // one postings table + its (id, dl) stats sibling, probe = term-
    // pruned tf slice + broadcast df/corpus stats + per-matched-doc dl
    // join, contributions summed in DECIMAL(38,12) (order-free ⇒ the
    // iterative/rational arithmetic is oracle-exact, q81's rational-
    // idf discipline on the index's raw space-split tokens).
    ("q157_search_bm25_indexed", (s: SparkSession, d: String) => {
      val tag = Integer.toHexString(d.hashCode)
      val (pt, st) = (s"q157_postings_$tag", s"q157_docstats_$tag")
      graft.ops.Tables.dropTablesAndDirs(s, pt, st)
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      Relevance.writePostingsIndex(docs, "doc_id", "text", pt,
        statsTable = Some(st))
      Relevance.bm25FromIndex(s, pt, st, Q157Terms, logIdf = false)
        .orderBy("id")
    }, Some {
      val in = Q157Terms.map(t => s"'${Relevance.sqlLit(t)}'").mkString(", ")
      s"""WITH p AS (
         |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
         |  FROM documents
         |), dl AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS dl FROM p GROUP BY 1
         |), st AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |         CAST(sum(dl) AS DOUBLE) AS sum_dl
         |  FROM dl
         |), tf AS (
         |  SELECT id, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM p WHERE term IN ($in) GROUP BY 1, 2
         |), dfq AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
         |), contrib AS (
         |  SELECT tf.id,
         |         ((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
         |           (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) +
         |             0.75 * (CAST(dl.dl AS DOUBLE) /
         |               (st.sum_dl / st.n_docs))))) AS c
         |  FROM tf
         |  JOIN dfq USING (term)
         |  JOIN dl ON dl.id = tf.id, st
         |)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         |       CAST(sum(CAST(c AS DECIMAL(38,12))) AS DOUBLE) AS score
         |FROM contrib GROUP BY 1 ORDER BY id""".stripMargin
    }),
    // Sketch-state maintenance: the q75 mergeable-HLL registers lifted
    // to a PERSISTED state table — base epoch written, a late delta
    // max-merged in through the generic monoid advance (q152's
    // machinery, different monoid), distinct-users answered from the
    // register table alone. The oracle replays the full-corpus
    // register arithmetic: max-merge-equals-whole is the HLL register
    // monoid law, end-to-end differentially checked.
    ("q158_sketch_state_hll", (s: SparkSession, d: String) => {
      import graft.functions.PortableSketches._
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q158_hll_$tag"
      graft.ops.Tables.dropTablesAndDirs(s, st, s"${st}__next", s"${st}__old")
      val events = table(s, d, "events")
      def regs(df: DataFrame): DataFrame = df
        .select(col("event_type"), hllDigest(col("user_id")).as("__d"))
        .groupBy(col("event_type"), hllBucket(col("__d")).as("bucket"))
        .agg(max(hllRho(col("__d"))).as("r"))
      val cut = "TIMESTAMP '2024-01-21'"
      regs(events.where(expr(s"ts < $cut"))).write.saveAsTable(st)
      Incremental.advanceStateTableBy(s, st,
        regs(events.where(expr(s"ts >= $cut"))),
        Seq("event_type", "bucket"), Seq(max(col("r")).as("r")))
      s.table(st).groupBy("event_type")
        .agg(count(lit(1)).as("state_registers"),
          sum(hllRegisterTerm(col("r"))).as("__z"),
          count(lit(1)).as("__p"))
        .select(col("event_type"), col("state_registers"),
          hllEstimate(col("__z"), col("__p")).as("approx_users"))
        .orderBy("event_type")
    }, Some {
      import graft.functions.PortableSketches._
      s"""WITH m AS (
         |  SELECT event_type, ${hllBucketSql("d")} AS bucket,
         |         max(${hllRhoSql("d")}) AS r
         |  FROM (SELECT event_type, ${hllDigestSql("user_id")} AS d
         |        FROM events)
         |  GROUP BY 1, 2
         |), z AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS state_registers,
         |         sum($hllRegisterTermSql) AS zsum, count(*) AS present
         |  FROM m GROUP BY 1
         |)
         |SELECT event_type, state_registers,
         |       ${hllEstimateSql("zsum", "present")} AS approx_users
         |FROM z ORDER BY event_type""".stripMargin
    }),
    // Per-group winsorization at p01/p99 — the value-clamping pass
    // before tabular training, in the q153 portability frame
    // (cent-floored integers, counting-CDF fences, integer clamp,
    // exact DECIMAL cent means through the string route).
    ("q159_profile_winsorize", (s: SparkSession, d: String) => {
      graft.ops.Profile.winsorizeBy(
          spread(table(s, d, "events"), "event_id"), "event_type", "value",
          pLow = 1, pHigh = 99)
        .orderBy("event_type")
    }, Some(
      """WITH c AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), vc AS (
        |  SELECT event_type, v, count(*) AS ct FROM c GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, v,
        |         SUM(ct) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |         SUM(ct) OVER (PARTITION BY event_type) AS n
        |  FROM vc
        |), p AS (SELECT unnest([1, 99]) AS pct),
        |q AS (
        |  SELECT event_type, pct, MIN(v) AS value
        |  FROM cum, p WHERE cum >= (n * pct + 99) // 100
        |  GROUP BY event_type, pct
        |), f AS (
        |  SELECT event_type,
        |         MIN(CASE WHEN pct = 1 THEN value END) AS lo,
        |         MIN(CASE WHEN pct = 99 THEN value END) AS hi
        |  FROM q GROUP BY 1
        |)
        |SELECT c.event_type, CAST(count(*) AS BIGINT) AS n,
        |       MIN(f.lo) AS lo_cents, MIN(f.hi) AS hi_cents,
        |       CAST(sum(CASE WHEN c.v < f.lo THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped_lo,
        |       CAST(sum(CASE WHEN c.v > f.hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped_hi,
        |       CAST(CAST(sum(CAST(c.v AS DECIMAL(38,0))) AS VARCHAR)
        |         AS DOUBLE) / count(*) AS mean_cents,
        |       CAST(CAST(sum(CAST(greatest(f.lo, least(f.hi, c.v))
        |         AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / count(*)
        |         AS mean_winsorized_cents
        |FROM c JOIN f USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Entity resolution composed end-to-end: the q150 edit join's
    // typo pairs → hash-min connected components → keep the min-id
    // representative per cluster (unpaired names always survive) —
    // the full typo-collapse a catalog/name table actually runs.
    // Oracle = q150's pair definition closed transitively with a
    // recursive CTE, reps = id == component min.
    ("q161_entity_resolution", (s: SparkSession, d: String) => {
      val names = typoNames(s, d)
      val pairs = EditJoin.editJoin(spread(names, "id"), "id", "name",
        maxDist = 2, q = 4)
      graft.ops.Dedup.keepRepresentatives(names, "id", pairs)
        .orderBy("id")
    }, Some(
      s"""WITH RECURSIVE $typoNamesSql,
         |lens AS (SELECT id, name, len(name) AS l FROM sel),
         |fan AS (
         |  SELECT id, name, l, l + u.k AS tgt
         |  FROM lens, (SELECT unnest([0, 1, 2]) AS k) u
         |),
         |prs AS (
         |  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
         |  FROM fan a JOIN lens b ON b.l = a.tgt
         |  WHERE ((a.l < b.l) OR (a.l = b.l AND a.id < b.id))
         |    AND levenshtein(a.name, b.name) <= 2
         |),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
         |          UNION ALL SELECT id_b, id_a FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
         |),
         |lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
         |dropped AS (SELECT id FROM lab WHERE id <> cluster)
         |SELECT s.id, s.name FROM sel s
         |LEFT JOIN dropped x ON x.id = s.id
         |WHERE x.id IS NULL
         |ORDER BY s.id""".stripMargin)),

    // Personalized (seeded) PageRank — TrustRank-style quality
    // propagation: teleport mass returns only to a trusted seed set
    // (one nation's customers), so supplier scores measure link
    // proximity to the trusted cohort; unreachable nodes score a
    // legitimate 0. Same DECIMAL discipline ⇒ same full unrolled-CTE
    // differential oracle.
    ("q162_graph_pagerank_seeded", (s: SparkSession, d: String) => {
      val e0 = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000000L).as("s2"))
        .distinct()
      val edges = e0.select(col("c").as("src"), col("s2").as("dst"))
        .unionAll(e0.select(col("s2").as("src"), col("c").as("dst")))
      val seeds = table(s, d, "customer")
        .where(col("c_nationkey") === 1)
        .select(col("c_custkey").as("node"))
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3,
          seeds = Some(seeds))
        .orderBy("node")
    }, Some(
      graft.ops.Graph.personalizedPageRankSql(
        """e0 AS (
          |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS s2
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |),
          |e AS (SELECT c AS src, s2 AS dst FROM e0
          |      UNION ALL SELECT s2, c FROM e0)""".stripMargin,
        """seeds AS (SELECT c_custkey AS node FROM customer
          |          WHERE c_nationkey = 1)""".stripMargin,
        iters = 3) + "\nORDER BY node")),
  )

  private val Q151Phrases =
    Seq("table hash", "customer join", "slow hash batch", "a a")

  private val Q157Terms = Seq("table", "customer", "vector", "slow")
}
