package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Graph, GraphState, Tables}

/** [[graft.ops.GraphState]] — the triangle stats maintained as a
  * crash-safe (edges, stats) state-table pair (round-13 verdict's top
  * ask: an advance must consume STATE, never re-canonicalize raw
  * history). */
class GraphStateSpec extends SparkSpec {
  import spark.implicits._

  private def scrub(name: String): Unit =
    Tables.dropTablesAndDirs(spark,
      s"${name}_edges", s"${name}_stats",
      s"${name}_edges__next", s"${name}_stats__next",
      s"${name}_edges__old", s"${name}_stats__old")

  private def pairsOf(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val li = Tables.table(spark, sf, "lineitem")
      .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey")))
      .select(col("l_orderkey"), col("l_partkey"))
    li.join(li.select(col("l_orderkey"), col("l_partkey").as("__p2")),
        Seq("l_orderkey"))
      .where(col("l_partkey") < col("__p2"))
      .select(col("l_partkey").as("src"), col("__p2").as("dst"))
  }

  private def sortedStats(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("node", "degree", "n_triangles", "clustering")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq

  test("advance folds waves into the pair; maintained stats equal the full re-count; epochs track; no danglers") {
    val name = "gstate_adv"
    scrub(name)
    GraphState.initTriangleState(spark, name,
      pairsOf(_ => lit(false)), "src", "dst")
    assert(GraphState.epochOf(spark, s"${name}_edges") == 0L)
    for (w <- 0 to 2)
      GraphState.advanceTriangleState(spark, name,
        pairsOf(ok => ok % 3 === w), "src", "dst")
    val got = sortedStats(GraphState.stats(spark, name))
    val want = sortedStats(
      Graph.triangleStats(pairsOf(_ => lit(true)), "src", "dst"))
    assert(got == want, "maintained pair must equal the from-scratch count")
    assert(GraphState.epochOf(spark, s"${name}_edges") == 3L)
    assert(GraphState.epochOf(spark, s"${name}_stats") == 3L)
    for (t <- Seq("_edges__next", "_stats__next", "_edges__old", "_stats__old"))
      assert(!spark.catalog.tableExists(name + t), s"dangler $t")
    assert(GraphState.recoverTriangleState(spark, name) == "clean")
    // re-applying an already-folded delta is a no-op (crash-replay safety)
    GraphState.advanceTriangleState(spark, name,
      pairsOf(ok => ok % 3 === 1), "src", "dst")
    assert(sortedStats(GraphState.stats(spark, name)) == want)
    scrub(name)
  }

  test("retract removes a slice; pair equals the full re-count on the remainder; retract∘advance is identity") {
    val name = "gstate_ret"
    scrub(name)
    GraphState.initTriangleState(spark, name, pairsOf(_ => lit(true)),
      "src", "dst")
    val before = sortedStats(GraphState.stats(spark, name))
    val slice = pairsOf(ok => ok % 7 === 0)
    GraphState.retractTriangleState(spark, name, slice, "src", "dst")
    // the retracted pair equals a from-scratch count over the remaining
    // edges (edges ground truth drives the check)
    val want = sortedStats(Graph.triangleStats(
      GraphState.edges(spark, name), "a", "b"))
    assert(sortedStats(GraphState.stats(spark, name)) == want)
    // identity: advancing the same slice back restores the original
    GraphState.advanceTriangleState(spark, name, slice, "src", "dst")
    assert(sortedStats(GraphState.stats(spark, name)) == before)
    assert(GraphState.epochOf(spark, s"${name}_stats") == 2L)
    scrub(name)
  }

  test("advance reads ONLY the state pair + the delta — never raw history (every file scan audited)") {
    val name = "gstate_plan"
    scrub(name)
    // raw history staged as its own parquet (the thing the advance
    // must NOT touch)
    val hist = java.nio.file.Files.createTempDirectory("gstate-hist").toString
    pairsOf(ok => ok % 3 =!= 0).write.mode("overwrite").parquet(hist)
    val deltaDir = java.nio.file.Files.createTempDirectory("gstate-delta").toString
    pairsOf(ok => ok % 3 === 0).write.mode("overwrite").parquet(deltaDir)
    GraphState.initTriangleState(spark, name,
      spark.read.parquet(hist), "src", "dst")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.foreach {
          case s: FileSourceScanExec =>
            seen.add(s.relation.location.rootPaths.mkString(","))
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      GraphState.advanceTriangleState(spark, name,
        spark.read.parquet(deltaDir), "src", "dst")
      // listener delivery is async — wait for the queue to go quiet
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 40) {
        last = seen.size; spins += 1; Thread.sleep(250)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
    val paths = seen.toArray(Array.empty[String]).toSeq.distinct
    assert(paths.nonEmpty, "the audit must observe the advance's scans")
    val allowed = Seq(s"${name}_edges", s"${name}_stats", deltaDir)
    paths.foreach { p =>
      assert(allowed.exists(p.contains),
        s"advance scanned $p — outside state pair + delta")
      assert(!p.contains(hist), s"advance re-read raw history: $p")
    }
    assert(paths.exists(_.contains(s"${name}_edges")), "state edges scan missing")
    graft.ops.LocalFiles.deleteRecursively(hist)
    graft.ops.LocalFiles.deleteRecursively(deltaDir)
    scrub(name)
  }

  test("k-core pair: waves fold to the union's fixed point; advance consumes canonical state; recovery rebuilds under the stored k") {
    val name = "gstate_kc"
    Tables.dropTablesAndDirs(spark,
      s"${name}_edges", s"${name}_core",
      s"${name}_edges__next", s"${name}_core__next",
      s"${name}_edges__old", s"${name}_core__old")
    GraphState.initKCoreState(spark, name, pairsOf(_ => lit(false)),
      "src", "dst", k = 4)
    for (w <- 0 to 2)
      GraphState.advanceKCoreState(spark, name,
        pairsOf(ok => ok % 3 === w), "src", "dst", k = 4)
    def m(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = m(GraphState.core(spark, name))
    val want = m(Graph.kCoreFixedPoint(pairsOf(_ => lit(true)), "src",
      "dst", k = 4))
    assert(got == want, "maintained core must equal the union's fixed point")
    assert(got.nonEmpty && got.values.forall(_ >= 4L))
    assert(GraphState.epochOf(spark, s"${name}_core") == 3L)
    // stats-lag recovery rebuilds the survivor set from ground truth
    // under the k stored on the table
    spark.sql(s"ALTER TABLE ${name}_core SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recoverKCoreState(spark, name) == "rebuilt-core")
    assert(m(GraphState.core(spark, name)) == want)
    assert(GraphState.recoverKCoreState(spark, name) == "clean")
    Tables.dropTablesAndDirs(spark, s"${name}_edges", s"${name}_core")
  }

  test("k-core pair retraction: interleaved advance/retract waves equal the net fixed point; retract∘advance is identity; recovery rebuilds") {
    val name = "gstate_kcr"
    Tables.dropTablesAndDirs(spark,
      s"${name}_edges", s"${name}_core",
      s"${name}_edges__next", s"${name}_core__next",
      s"${name}_edges__old", s"${name}_core__old")
    def m(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraphState.initKCoreState(spark, name, pairsOf(ok => ok % 3 === 0),
      "src", "dst", k = 4)
    val base = m(GraphState.core(spark, name))
    // advance a wave, retract a slice, advance another wave — the
    // maintained survivor set must track the NET edge set's fixed
    // point through every step
    GraphState.advanceKCoreState(spark, name,
      pairsOf(ok => ok % 3 === 1), "src", "dst", k = 4)
    val afterAdv = m(GraphState.core(spark, name))
    val slice = pairsOf(ok => ok % 6 === 1) // ⊆ the %3==1 wave
    GraphState.retractKCoreState(spark, name, slice, "src", "dst", k = 4)
    // ground truth drives the check: maintained core == the fixed
    // point re-peeled from the edges table
    assert(m(GraphState.core(spark, name)) ==
      m(Graph.kCoreFixedPoint(GraphState.edges(spark, name), "a", "b", k = 4)))
    // identity: advancing the slice back restores the post-advance core
    GraphState.advanceKCoreState(spark, name, slice, "src", "dst", k = 4)
    assert(m(GraphState.core(spark, name)) == afterAdv,
      "retract∘advance must restore the maintained core")
    assert(GraphState.epochOf(spark, s"${name}_core") == 3L)
    // retract the whole %3==1 wave (SET semantics: pairs the %3==0
    // wave also delivered leave too — an edge has no multiplicity) —
    // ground truth still drives the equality
    GraphState.retractKCoreState(spark, name,
      pairsOf(ok => ok % 3 === 1), "src", "dst", k = 4)
    val afterRet = m(GraphState.core(spark, name))
    assert(afterRet ==
      m(Graph.kCoreFixedPoint(GraphState.edges(spark, name), "a", "b", k = 4)))
    // crash-window recovery after a retraction: core lags ground truth
    // → rebuilt from the edges table under the stored k
    spark.sql(s"ALTER TABLE ${name}_core SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recoverKCoreState(spark, name) == "rebuilt-core")
    assert(m(GraphState.core(spark, name)) == afterRet)
    Tables.dropTablesAndDirs(spark, s"${name}_edges", s"${name}_core")
  }

  test("community pair: maintained assignment equals the replayed warm chain; recovery promotes or replays an interrupted advance bit-identically") {
    val name = "gstate_comm"
    Tables.dropTablesAndDirs(spark,
      s"${name}_edges", s"${name}_comm",
      s"${name}_edges__next", s"${name}_comm__next",
      s"${name}_edges__old", s"${name}_comm__old")
    def m(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraphState.initCommState(spark, name, pairsOf(_ => lit(false)),
      "src", "dst", iters = 3)
    for (w <- 0 to 2)
      GraphState.advanceCommState(spark, name,
        pairsOf(ok => ok % 3 === w), "src", "dst", iters = 3)
    val got = m(GraphState.communities(spark, name))
    // the maintained assignment must equal the SAME warm chain replayed
    // through the stability-stopped Louvain core over the cumulative
    // edge sets — the q238 oracle's exact process
    def symCum(w: Int): DataFrame = {
      val p = pairsOf(ok => ok % 3 <= w).distinct()
      p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
    }
    def stable(e: DataFrame, seed: Option[DataFrame]): DataFrame =
      Graph.louvainLevel(Graph.louvainEdges(e, "src", "dst", None), 3,
        coarse = false, seed = seed, stopAtStable = true)._1
    val c1 = stable(symCum(0), None)
    val c2 = stable(symCum(1), Some(c1))
    val c3 = stable(symCum(2), Some(c2))
    assert(got == m(c3), "maintained ≡ replayed warm chain")
    assert(GraphState.epochOf(spark, s"${name}_comm") == 3L)

    // window A: crash BETWEEN the two swaps with the staged comm
    // intact → promoted, no recompute
    val dA = pairsOf(ok => ok % 7 === 3)
    val (eA, cA) = GraphState.advanceCommPlan(spark, name, dA, "src", "dst", 3)
    cA.write.saveAsTable(s"${name}_comm__next")
    spark.sql(s"ALTER TABLE ${name}_comm__next SET TBLPROPERTIES(" +
      "'graft.epoch'='4','graft.comm.iters'='3')")
    val wantA = m(spark.table(s"${name}_comm__next"))
    eA.write.saveAsTable(s"${name}_edges__next")
    spark.sql(s"ALTER TABLE ${name}_edges__next SET TBLPROPERTIES('graft.epoch'='4')")
    graft.ops.Incremental.swapStaged(spark, s"${name}_edges")
    assert(GraphState.recoverCommState(spark, name) == "promoted-staged-comm")
    assert(m(GraphState.communities(spark, name)) == wantA)

    // window B: staged comm LOST after the edges swap — unlike the
    // triangle/k-core views the rebuild does NOT fall back to a
    // different valid result: the advance is a pure function of (new
    // edges, previous assignment), BOTH of which survive this window,
    // so recovery replays the interrupted advance BIT-IDENTICALLY
    val dB = pairsOf(ok => ok % 7 === 5)
    val (eB, cB) = GraphState.advanceCommPlan(spark, name, dB, "src", "dst", 3)
    cB.write.saveAsTable(s"${name}_comm__next")
    spark.sql(s"ALTER TABLE ${name}_comm__next SET TBLPROPERTIES(" +
      "'graft.epoch'='5','graft.comm.iters'='3')")
    val wantB = m(spark.table(s"${name}_comm__next"))
    eB.write.saveAsTable(s"${name}_edges__next")
    spark.sql(s"ALTER TABLE ${name}_edges__next SET TBLPROPERTIES('graft.epoch'='5')")
    graft.ops.Incremental.swapStaged(spark, s"${name}_edges")
    spark.sql(s"DROP TABLE ${name}_comm__next")
    assert(GraphState.recoverCommState(spark, name) == "rebuilt-comm")
    assert(m(GraphState.communities(spark, name)) == wantB,
      "crash-rebuild must replay the interrupted advance bit-identically")
    assert(GraphState.recoverCommState(spark, name) == "clean")
    Tables.dropTablesAndDirs(spark, s"${name}_edges", s"${name}_comm")
  }

  test("ANF pair: wave-advanced register ladder is register-bit-identical to the from-scratch run; estimates match; recovery rebuilds") {
    val name = "gstate_anf"
    Tables.dropTablesAndDirs(spark,
      s"${name}_edges", s"${name}_anf",
      s"${name}_edges__next", s"${name}_anf__next",
      s"${name}_edges__old", s"${name}_anf__old")
    GraphState.initAnfState(spark, name, pairsOf(_ => lit(false)),
      "src", "dst", t = 3)
    for (w <- 0 to 2)
      GraphState.advanceAnfState(spark, name,
        pairsOf(ok => ok % 3 === w), "src", "dst", t = 3)
    // packed layout (round-15): one 256-byte register array per
    // (level, node) row — compare as hex so byte arrays get value
    // equality
    def regSet(df: DataFrame): Set[(Int, Long, String)] =
      df.select(col("t"), col("node"), hex(col("regs"))).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .toSet
    // register-bit-identity with the from-scratch ladder over the
    // union — the induction the q243 oracle rests on
    val fromScratch = graft.ops.Graph.anfRegisters(
      GraphState.edges(spark, name), t = 3)
    assert(regSet(GraphState.anfRegisters(spark, name)) == regSet(fromScratch),
      "maintained ladder must equal the from-scratch registers")
    // estimates read view equals neighborhoodFunction's output
    def estMap(df: DataFrame): Map[(Long, Int), Double] =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val got = estMap(GraphState.anfEstimates(spark, name))
    val want = estMap(graft.ops.Graph.neighborhoodFunction(
      pairsOf(_ => lit(true)), "src", "dst", iters = 3))
    assert(got == want, "maintained estimates must equal the direct run")
    assert(GraphState.epochOf(spark, s"${name}_anf") == 3L)
    // re-applying an already-folded wave is a no-op
    GraphState.advanceAnfState(spark, name,
      pairsOf(ok => ok % 3 === 1), "src", "dst", t = 3)
    assert(estMap(GraphState.anfEstimates(spark, name)) == want)
    // recovery rebuild from ground truth is register-bit-identical
    spark.sql(s"ALTER TABLE ${name}_anf SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recoverAnfState(spark, name) == "rebuilt-anf")
    assert(regSet(GraphState.anfRegisters(spark, name)) == regSet(fromScratch))
    assert(GraphState.recoverAnfState(spark, name) == "clean")
    Tables.dropTablesAndDirs(spark, s"${name}_edges", s"${name}_anf")
  }

  test("community advance reads ONLY the state pair + the delta — never raw history (file scans audited)") {
    val name = "gstate_commplan"
    Tables.dropTablesAndDirs(spark,
      s"${name}_edges", s"${name}_comm",
      s"${name}_edges__next", s"${name}_comm__next",
      s"${name}_edges__old", s"${name}_comm__old")
    val hist = java.nio.file.Files.createTempDirectory("gcomm-hist").toString
    pairsOf(ok => ok % 3 =!= 0).write.mode("overwrite").parquet(hist)
    val deltaDir = java.nio.file.Files.createTempDirectory("gcomm-delta").toString
    pairsOf(ok => ok % 3 === 0).write.mode("overwrite").parquet(deltaDir)
    GraphState.initCommState(spark, name,
      spark.read.parquet(hist), "src", "dst", iters = 2)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.foreach {
          case s: FileSourceScanExec =>
            seen.add(s.relation.location.rootPaths.mkString(","))
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      GraphState.advanceCommState(spark, name,
        spark.read.parquet(deltaDir), "src", "dst", iters = 2)
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 40) {
        last = seen.size; spins += 1; Thread.sleep(250)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
    val paths = seen.toArray(Array.empty[String]).toSeq.distinct
    assert(paths.nonEmpty, "the audit must observe the advance's scans")
    val allowed = Seq(s"${name}_edges", s"${name}_comm", deltaDir)
    paths.foreach { p =>
      assert(allowed.exists(p.contains),
        s"advance scanned $p — outside state pair + delta")
      assert(!p.contains(hist), s"advance re-read raw history: $p")
    }
    assert(paths.exists(_.contains(s"${name}_edges")), "state edges scan missing")
    assert(paths.exists(_.contains(s"${name}_comm")), "state comm (seed) scan missing")
    graft.ops.LocalFiles.deleteRecursively(hist)
    graft.ops.LocalFiles.deleteRecursively(deltaDir)
    Tables.dropTablesAndDirs(spark, s"${name}_edges", s"${name}_comm")
  }

  test("triangle retraction that drains a node to degree 0 drops its row — maintained stats stay bit-identical to the rebuild (ADVICE r14)") {
    val name = "gstate_deg0"
    scrub(name)
    // triangle {1,2,3} with an appendix edge (3,4): retracting (3,4)
    // leaves node 4 at degree 0 — the maintained path must DROP its
    // row exactly as a from-scratch recount over the edges table would
    GraphState.initTriangleState(spark,
      name, Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"),
      "src", "dst")
    assert(GraphState.stats(spark, name).count() == 4L)
    GraphState.retractTriangleState(spark, name,
      Seq((3L, 4L)).toDF("src", "dst"), "src", "dst")
    val maintained = sortedStats(GraphState.stats(spark, name))
    assert(!maintained.exists(_._1 == 4L), "degree-0 node must leave")
    assert(maintained.map(_._1) == Seq(1L, 2L, 3L))
    // rebuild == maintained: force the recovery recount from ground
    // truth and compare bit-for-bit
    spark.sql(s"ALTER TABLE ${name}_stats SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recoverTriangleState(spark, name) == "rebuilt-stats")
    assert(sortedStats(GraphState.stats(spark, name)) == maintained,
      "crash-rebuild must equal the uncrashed maintained stats")
    scrub(name)
  }

  test("an advance leaves no thread holding its session as active") {
    import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue,
      CountDownLatch, ForkJoinPool, TimeUnit}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.SparkSession
    val name = "gstate_sess"
    scrub(name)
    // a session of its own, so a leaked active session is identifiable
    val s2 = spark.newSession()
    def edgesOf(es: (Long, Long)*): DataFrame =
      s2.createDataFrame(es).toDF("src", "dst")
    GraphState.initTriangleState(s2, name, edgesOf((1L, 2L), (2L, 3L)),
      "src", "dst")
    val before = SparkSession.getActiveSession
    GraphState.advanceTriangleState(s2, name, edgesOf((3L, 1L), (3L, 4L)),
      "src", "dst")
    assert(SparkSession.getActiveSession.map(System.identityHashCode) ==
      before.map(System.identityHashCode),
      "the advancing thread's active session changed")
    // fill EVERY common-pool worker with a latched task: each records
    // the active session it sees, then holds its worker until all n
    // have arrived, so no worker can run two probes
    val n = ForkJoinPool.commonPool().getParallelism
    val arrived = new CountDownLatch(n)
    val seen = new ConcurrentLinkedQueue[Option[SparkSession]]()
    val tasks = (1 to n).map(_ => CompletableFuture.runAsync { () =>
      seen.add(SparkSession.getActiveSession)
      arrived.countDown()
      arrived.await(60, TimeUnit.SECONDS)
      ()
    })
    tasks.foreach(_.join())
    assert(arrived.getCount == 0,
      s"only ${n - arrived.getCount} of $n workers ran a probe")
    assert(!seen.asScala.exists(_.exists(_ eq s2)),
      "a pooled worker still carries the advance's session as active")
    scrub(name)
  }

  test("recovery resolves every crash window: promote staged stats, rebuild lost stats, drop danglers") {
    val name = "gstate_rec"
    scrub(name)
    GraphState.initTriangleState(spark, name,
      pairsOf(ok => ok % 3 =!= 0), "src", "dst")
    val delta = pairsOf(ok => ok % 3 === 0)

    // window A: crash BETWEEN the two swaps — edges live at e+1, stats
    // at e with a complete staged __next. Simulate by staging both and
    // swapping only the edges (exactly what applyStaged does first).
    val (newE, newS) = GraphState.advanceTrianglePlan(spark, name, delta,
      "src", "dst")
    newS.write.saveAsTable(s"${name}_stats__next")
    spark.sql(s"ALTER TABLE ${name}_stats__next SET TBLPROPERTIES('graft.epoch'='1')")
    newE.write.saveAsTable(s"${name}_edges__next")
    spark.sql(s"ALTER TABLE ${name}_edges__next SET TBLPROPERTIES('graft.epoch'='1')")
    graft.ops.Incremental.swapStaged(spark, s"${name}_edges")
    assert(GraphState.recoverTriangleState(spark, name) == "promoted-staged-stats")
    val want = sortedStats(
      Graph.triangleStats(pairsOf(_ => lit(true)), "src", "dst"))
    assert(sortedStats(GraphState.stats(spark, name)) == want)
    assert(GraphState.epochOf(spark, s"${name}_stats") == 1L)

    // window B: staged stats LOST after the edges swap (or unstamped) —
    // stats lag ground truth and must be rebuilt from the edges table.
    spark.sql(s"ALTER TABLE ${name}_stats SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recoverTriangleState(spark, name) == "rebuilt-stats")
    assert(sortedStats(GraphState.stats(spark, name)) == want)
    assert(GraphState.epochOf(spark, s"${name}_stats") == 1L)

    // window C: crash during staging — danglers at a stale epoch drop,
    // the live pair stays intact (caller re-applies the delta)
    Seq((1L, 2L)).toDF("a", "b").write.saveAsTable(s"${name}_stats__next")
    assert(GraphState.recoverTriangleState(spark, name) == "resolved")
    assert(!spark.catalog.tableExists(s"${name}_stats__next"))
    assert(sortedStats(GraphState.stats(spark, name)) == want)
    assert(GraphState.recoverTriangleState(spark, name) == "clean")
    scrub(name)
  }
}
