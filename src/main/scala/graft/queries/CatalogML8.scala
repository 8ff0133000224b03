package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._

/** Round-12 additions: the TPC-H Q21-shape correlated semi/anti
  * fact-fact self-join (the one relational composition the catalog
  * still lacked), sample-level PCM payload statistics (finishing what
  * the q197 WAV header walk started), deterministic Louvain community
  * detection — single-level (q217) and the full multi-level "fast
  * unfolding" with contraction + Q-guarded super-graph moves (q219) —
  * the bounded quantile sketch maintained on the live streaming gate
  * (q218), and degree-oriented triangle counting (q220). Bench
  * reports them under the q21x/q22x rollup keys; per-entry numbers
  * via SPARK_GRAFT_ONLY=q215,…
  */
object CatalogML8 {
  type Q = (SparkSession, String) => DataFrame

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // TPC-H Q21 shape — "suppliers who kept waiting": a fact-fact
    // SELF-join stress on the semi/anti planner. l1 = a supplier's
    // late line (l_returnflag = 'R') in a finished ('F') order, kept
    // iff the order involves ANOTHER supplier (EXISTS: left_semi on
    // orderkey with a suppkey<> residual) and NO other supplier was
    // late (NOT EXISTS: left_anti, same shape). The fixture lacks
    // receipt/commit dates, so "late" is the returnflag — the JOIN
    // TOPOLOGY (what Q21 stresses) is identical. Scale shape: the
    // supplier/nation dimension filter lands on l1 BEFORE the
    // self-joins (shrinking the probe side ~5x here, |one region|/
    // |all| at scale); l1, l2 and l3 all shuffle on the SAME
    // l_orderkey key so the exchange is planned once per side and
    // the semi+anti pair reuses l1's partitioning; dims broadcast.
    ("q215_join_q21_waiting", (s: SparkSession, d: String) => {
      val li = table(s, d, "lineitem")
      val supp = table(s, d, "supplier")
      val nat = table(s, d, "nation").where(col("n_regionkey") === 2)
      val l1 = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("l_orderkey"), col("l_suppkey"), col("s_name"))
      val ord = table(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val l2 = li.select(col("l_orderkey").as("__ok2"),
        col("l_suppkey").as("__sk2"))
      val l3 = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("__ok3"), col("l_suppkey").as("__sk3"))
      l1.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(l2, col("__ok2") === col("l_orderkey") &&
          col("__sk2") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("__ok3") === col("l_orderkey") &&
          col("__sk3") =!= col("l_suppkey"), "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }, Some(
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND n_regionkey = 2
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin)),

    // Sample-level PCM statistics (q197's WAV walk finished at the
    // payload): deterministic 16-bit mono WAVs — REAL RIFF headers +
    // LE16 sample data, all hex-built from per-row arithmetic — then
    // Multimodal.pcmStats runs the byte-level subchunk walk + sample
    // decode and the oracle recomputes peak/RMS/clip/silence from the
    // same generation arithmetic: matching hashes prove the parser
    // recovered every sample (endianness, sign, data offset) from the
    // bytes. Every 23rd (id+j) sample is forced to full scale so the
    // clip gate is exercised for real; u < 328 magnitudes land in the
    // silence bucket naturally.
    ("q216_wav_pcm_stats", (s: SparkSession, d: String) => {
      import graft.ops.Multimodal
      import graft.ops.Multimodal.{le16Hex, le32Hex}
      val id = col("media_id")
      val base = spread(
        table(s, d, "events").where(col("event_id") % 7 === 3), "event_id")
        .select(col("event_id").as("media_id"))
      val nsamp = (id % 60 + 12).cast("int")
      val dlen = nsamp * 2
      val samples = array_join(
        transform(sequence(lit(0), nsamp - 1), j => {
          val u0 = pmod(id * 31 + j.cast("long") * 7919L, lit(65536L))
          val u = when(pmod(id + j.cast("long"), lit(23L)) === 0L,
            lit(32767L)).otherwise(u0)
          le16Hex(u.cast("int"))
        }), "")
      val wavHex = concat(lit("52494646"), le32Hex(lit(36) + dlen),
        lit("57415645"), lit("666d7420"), le32Hex(lit(16)),
        le16Hex(lit(1)), le16Hex(lit(1)), le32Hex(lit(8000)),
        le32Hex(lit(16000)), le16Hex(lit(2)), le16Hex(lit(16)),
        lit("64617461"), le32Hex(dlen), samples)
      Multimodal.pcmStats(s, base.select(id, unhex(wavHex).as("bytes")))
        .toDF().orderBy("media_id")
    }, Some(
      """WITH ids AS (
        |  SELECT event_id AS media_id FROM events WHERE event_id % 7 = 3
        |), smp AS (
        |  SELECT media_id, j,
        |         CASE WHEN (media_id + j) % 23 = 0 THEN 32767
        |              ELSE (media_id * 31 + j * 7919) % 65536 END AS u
        |  FROM ids, LATERAL (SELECT unnest(range(0, media_id % 60 + 12)) AS j)
        |), v AS (
        |  SELECT media_id,
        |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS sv
        |  FROM smp
        |)
        |SELECT media_id,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(max(abs(sv)) AS INT) AS peak,
        |       CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
        |       sqrt(CAST(sum(sv * sv) AS DOUBLE) / count(*)) AS rms,
        |       CAST(sum(CASE WHEN sv = 32767 OR sv = -32768
        |                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |         AS clip_frac,
        |       CAST(sum(CASE WHEN abs(sv) <= 327 THEN 1 ELSE 0 END)
        |            AS DOUBLE) / count(*) AS silence_frac
        |FROM v GROUP BY media_id
        |ORDER BY media_id""".stripMargin)),

    // Community detection: deterministic Louvain local moves over the
    // q155/q181 customer↔supplier purchase graph — modularity-seeking
    // communities (the corpus-clustering / mixture-design companion
    // to LPA's neighbor agreement), 4 synchronous parity rounds, the
    // gain argmax in exact integers (HUGEINT/DECIMAL(38,0)) so the
    // whole iterative run replays verbatim in the oracle. Output
    // labels canonicalized to each community's min member id (the
    // CC convention) so the assignment is partition-order-free.
    ("q217_graph_louvain", (s: SparkSession, d: String) => {
      val e0 = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000000L).as("s2"))
        .distinct()
      val edges = e0.select(col("c").as("src"), col("s2").as("dst"))
        .unionAll(e0.select(col("s2").as("src"), col("c").as("dst")))
      val res = graft.ops.Graph.louvain(edges, "src", "dst", iters = 4)
      val canon = res.groupBy("community").agg(min("node").as("__cl"))
      res.join(canon, Seq("community"))
        .select(col("node"), col("__cl").as("community"))
        .orderBy("node")
    }, Some(graft.ops.Graph.louvainSql(
      """e0 AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS s2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |),
        |e AS (SELECT c AS src, s2 AS dst, 1 AS w FROM e0
        |      UNION ALL SELECT s2, c, 1 FROM e0)""".stripMargin,
      iters = 4,
      tail =
        """SELECT lv.node, cn.clabel AS community
          |FROM lv JOIN (SELECT community, min(node) AS clabel
          |              FROM lv GROUP BY community) cn USING (community)
          |ORDER BY lv.node""".stripMargin))),

    // The FULL Louvain "fast unfolding": q217's local moves PLUS the
    // phase-2 contraction (communities collapse to super-nodes —
    // internal weight becomes self-loops, preserved in degrees and 2m
    // so modularity is the same objective at every level) and a
    // second local-move pass on the super-graph, whose merges a
    // single level cannot express (a whole community re-homing at
    // once). 3 parity rounds per level × 2 levels; the contraction is
    // one exact-integer sum-aggregate, so the entire multi-level run
    // replays verbatim in the oracle. Same purchase graph as q217 —
    // the two entries together show what phase 2 buys.
    ("q219_graph_louvain_multilevel", (s: SparkSession, d: String) => {
      val e0 = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000000L).as("s2"))
        .distinct()
      val edges = e0.select(col("c").as("src"), col("s2").as("dst"))
        .unionAll(e0.select(col("s2").as("src"), col("c").as("dst")))
      val res = graft.ops.Graph.louvain(edges, "src", "dst",
        iters = 3, levels = 2)
      val canon = res.groupBy("community").agg(min("node").as("__cl"))
      res.join(canon, Seq("community"))
        .select(col("node"), col("__cl").as("community"))
        .orderBy("node")
    }, Some(graft.ops.Graph.louvainMultiLevelSql(
      """e0 AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS s2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |),
        |e AS (SELECT c AS src, s2 AS dst, 1 AS w FROM e0
        |      UNION ALL SELECT s2, c, 1 FROM e0)""".stripMargin,
      itersPerLevel = 3, levels = 2,
      tail =
        """SELECT lv.node, cn.clabel AS community
          |FROM lv JOIN (SELECT community, min(node) AS clabel
          |              FROM lv GROUP BY community) cn USING (community)
          |ORDER BY lv.node""".stripMargin))),

    // Triangle counting + local clustering coefficient over the
    // co-order part graph (parts sharing an order — projection pairs
    // are per-order-bounded, never corpus-quadratic): the
    // transitivity readout beside q217/q219's memberships. Spark runs
    // the DEGREE-ORIENTED enumeration (every wedge at its
    // (degree,id)-smallest corner — oriented out-degree O(√m), the
    // skew-proof distributed formulation); the oracle counts the same
    // triangles by the plain a<b<c three-way join — two independent
    // algorithms, one result set (413,718 triangles at sf0.01).
    ("q220_graph_triangles", (s: SparkSession, d: String) => {
      val li = table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li
        .join(li.select(col("l_orderkey"),
          col("l_partkey").as("__p2")), Seq("l_orderkey"))
        .where(col("l_partkey") < col("__p2"))
        .select(col("l_partkey").as("src"), col("__p2").as("dst"))
      graft.ops.Graph.triangleStats(pairs, "src", "dst")
        .withColumnRenamed("node", "part_id")
        .orderBy("part_id")
    }, Some(graft.ops.Graph.triangleStatsSql(
      """e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey)""".stripMargin,
      nodeAs = "part_id") + "\nORDER BY part_id")),

    // WEIGHTED Louvain — the q217 machinery over real edge weights
    // (co-order multiplicities: how many orders pair the two parts),
    // driver-visible proof that the weighted path (sum(w) degrees,
    // weighted k_{i→c}, weighted gains) replays exactly like the
    // unit-weight one. Same purchase-part domain as q220 so the two
    // entries share one projection story.
    ("q221_graph_louvain_weighted", (s: SparkSession, d: String) => {
      val li = table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li
        .join(li.select(col("l_orderkey"),
          col("l_partkey").as("__p2")), Seq("l_orderkey"))
        .where(col("l_partkey") < col("__p2"))
        .groupBy(col("l_partkey").as("a"), col("__p2").as("b"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"),
          col("w")))
      val res = graft.ops.Graph.louvain(edges, "src", "dst", iters = 3,
        weightCol = Some("w"))
      val canon = res.groupBy("community").agg(min("node").as("__cl"))
      res.join(canon, Seq("community"))
        .select(col("node").as("part_id"), col("__cl").as("community"))
        .orderBy("part_id")
    }, Some(graft.ops.Graph.louvainSql(
      """p AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |),
        |e AS (SELECT a AS src, b AS dst, w FROM p
        |      UNION ALL SELECT b, a, w FROM p)""".stripMargin,
      iters = 3,
      tail =
        """SELECT lv.node AS part_id, cn.clabel AS community
          |FROM lv JOIN (SELECT community, min(node) AS clabel
          |              FROM lv GROUP BY community) cn USING (community)
          |ORDER BY part_id""".stripMargin))),

    // STREAMING maintenance of the BOUNDED quantile sketch — q200's
    // live foreachBatch loop with q214's NON-monoid advance as the
    // per-microbatch step: each arrival wave folds into the persisted
    // (group, s_eff, bucket, cnt) table via coarsen-to-min
    // mergeBounded under the crash-safe stage-and-swap. The wave
    // split (event_id % 3, one file per trigger) is deterministic and
    // the coarsen-to-min merge is associative/commutative (shifts
    // compose, sums exact), so the pairwise streamed chain equals the
    // all-at-once merge the oracle replays — the q214 law, now proven
    // ON the live gate.
    ("q218_stream_quantile_bounded_state", (s: SparkSession, d: String) => {
      import java.nio.file.Files
      import org.apache.spark.sql.streaming.Trigger
      import graft.ops.{Incremental, QuantileSketch}
      val S = QuantileSketch.DefaultS
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q218_state_$tag"
      graft.ops.Tables.dropTablesAndDirs(s, st, s"${st}__next", s"${st}__old")
      val events = table(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val dir = CatalogStream.stageEventStateWaves(s, d)
      QuantileSketch.sketchBounded(events.where(lit(false)), "event_type",
          col("value"), S, maxRegisters = 24)
        .write.saveAsTable(st)
      val src = s.readStream.format("parquet").schema(events.schema)
        .option("maxFilesPerTrigger", 1).load(dir)
      val ckpt = Files.createTempDirectory("graft-qbstate-ckpt").toString
      try {
        val q = src.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            Incremental.transformStateTable(s, st) { cur =>
              QuantileSketch.mergeBounded(Seq(cur,
                QuantileSketch.sketchBounded(b, "event_type", col("value"),
                  S, maxRegisters = 24)), "event_type")
            }
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally graft.ops.LocalFiles.deleteRecursively(ckpt)
      QuantileSketch.quantilesBounded(s.table(st), "event_type",
          Seq(50, 90, 99))
        .orderBy("event_type", "pct")
    }, Some {
      import graft.ops.QuantileSketch
      def raw(m: Int) =
        s"SELECT event_type AS g, value AS v FROM events WHERE event_id % 3 = $m"
      val chains = (0 to 2).map(m =>
        QuantileSketch.sketchBoundedSql(raw(m), QuantileSketch.DefaultS,
          maxRegisters = 24, maxLevels = QuantileSketch.DefaultS,
          prefix = s"__w$m")).mkString(",\n")
      "WITH " + chains + ",\n" +
        QuantileSketch.mergeBoundedSql(Seq("__w0bs", "__w1bs", "__w2bs")) +
        ",\n" +
        QuantileSketch.quantilesBoundedSql(Seq(50, 90, 99),
          gAs = "event_type") +
        "\nORDER BY event_type, pct"
    })
  )
}
