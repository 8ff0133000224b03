package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Graph statistics as MAINTAINED state tables (round-13 verdict's top
  * ask): the corpus co-occurrence graph's canonical edge set and its
  * per-node triangle stats persist as a PAIR of catalog tables that
  * edge deltas advance in place — the [[Warehouse]]/[[Incremental]]
  * q177/q188 posture applied to the graph family. At a 100 TB corpus
  * where a crawl delta lands hourly, an advance must never re-read or
  * re-canonicalize history: [[advanceTriangleState]] consumes the
  * stored canonical edges directly ([[Graph.advanceTriangleCore]] —
  * zero |E| distinct, zero |E| shuffle when the delta fits the
  * broadcast gate), where the raw-frame
  * [[Graph.advanceTriangleStats]] overload pays a full |E|
  * canonicalization exchange per call.
  *
  * State layout for a pair named `g`:
  *  - `g_edges(a, b)` — canonical simple undirected pairs (a < b,
  *    distinct), the ground truth;
  *  - `g_stats(node, degree, n_triangles, clustering)` — the derived
  *    view, exactly [[Graph.triangleStats]]' output over `g_edges`.
  *
  * Crash safety: both `__next` stagings materialize fully BEFORE any
  * swap; the swaps then run ground-truth-first (edges, then stats).
  * Each table carries its advance EPOCH as a `graft.epoch` table
  * property (stamped on the staging before its swap; renames carry
  * properties along), so [[recoverTriangleState]] can resolve every
  * crash window:
  *  - crash during staging → both live tables intact at the same
  *    epoch; danglers drop; the caller re-applies the delta (an
  *    advance dedups against the edge set, so re-application is safe);
  *  - crash between the two swaps → edges live at epoch e+1, stats at
  *    e with a COMPLETE staged `__next` at e+1 (a catalog-committed
  *    staging is a finished write): the staging is PROMOTED, no
  *    recount;
  *  - staged stats lost or unstamped → stats REBUILT from the edges
  *    table (the derived view is always recomputable from ground
  *    truth — the safe full-recount fallback, taken only on a crash
  *    inside the one swap window).
  */
object GraphState {

  private[ops] def edgesTable(name: String): String = s"${name}_edges"
  private[ops] def statsTable(name: String): String = s"${name}_stats"
  private val EpochKey = "graft.epoch"

  /** Epoch stamped on `table` (−1 = missing table or never stamped). */
  private[graft] def epochOf(spark: SparkSession, table: String): Long =
    if (!spark.catalog.tableExists(table)) -1L
    else spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
      .properties.getOrElse(EpochKey, "-1").toLong

  private def stamp(spark: SparkSession, table: String, epoch: Long): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES('$EpochKey'='$epoch')")

  /** The maintained stats view (node, degree, n_triangles,
    * clustering) — what a report reads. */
  def stats(spark: SparkSession, name: String): DataFrame =
    spark.table(statsTable(name))

  /** The maintained canonical edge set (a, b). */
  def edges(spark: SparkSession, name: String): DataFrame =
    spark.table(edgesTable(name))

  /** Create the pair at epoch 0 from a raw edge frame (one full
    * canonicalization + one full [[Graph.triangleStats]] count — the
    * LAST time either happens; every later change is an advance).
    * `edges` may be empty: a streaming loop starts from the empty
    * graph and folds arrival waves in. */
  def initTriangleState(spark: SparkSession, name: String, edges: DataFrame,
                        srcCol: String, dstCol: String): Unit = {
    val eT = edgesTable(name); val sT = statsTable(name)
    Tables.dropTablesAndDirs(spark, eT, sT,
      s"${eT}__next", s"${sT}__next", s"${eT}__old", s"${sT}__old")
    PhaseTimer.time("init") {
      Graph.canonPairs(edges, srcCol, dstCol).write.saveAsTable(eT)
      stamp(spark, eT, 0L)
      Graph.triangleStatsCore(spark.table(eT)).write.saveAsTable(sT)
      stamp(spark, sT, 0L)
    }
  }

  /** The advanced (newEdges, newStats) PLANS from the live pair + a
    * raw delta — no writes. Exposed so the plan-assert spec can prove
    * the advance scans ONLY the two state tables and the delta source
    * (the q152 discipline); [[advanceTriangleState]] stages and swaps
    * these outputs. */
  def advanceTrianglePlan(spark: SparkSession, name: String, delta: DataFrame,
                          srcCol: String, dstCol: String): (DataFrame, DataFrame) =
    Graph.advanceTriangleCore(stats(spark, name), edges(spark, name),
      Graph.canonPairs(delta, srcCol, dstCol))

  /** Retraction twin of [[advanceTrianglePlan]]. */
  def retractTrianglePlan(spark: SparkSession, name: String, removed: DataFrame,
                          srcCol: String, dstCol: String): (DataFrame, DataFrame) =
    Graph.retractTriangleCore(stats(spark, name), edges(spark, name),
      Graph.canonPairs(removed, srcCol, dstCol))

  /** Fold an edge delta into the pair: |D|-bounded stats work
    * ([[Graph.advanceTriangleCore]]) + the stage-both-then-swap-both
    * protocol. Already-present and duplicate delta edges are no-ops,
    * so re-applying a delta after a resolved crash is safe. */
  def advanceTriangleState(spark: SparkSession, name: String, delta: DataFrame,
                           srcCol: String, dstCol: String): Unit =
    applyStaged(spark, name, PhaseTimer.time("plan") {
      advanceTrianglePlan(spark, name, delta, srcCol, dstCol) })

  /** Retract an edge set (takedowns) from the pair — the deletion
    * side, same protocol. Rows not actually present are ignored. */
  def retractTriangleState(spark: SparkSession, name: String, removed: DataFrame,
                           srcCol: String, dstCol: String): Unit =
    applyStaged(spark, name, PhaseTimer.time("plan") {
      retractTrianglePlan(spark, name, removed, srcCol, dstCol) })

  private def applyStagedPair(spark: SparkSession, eT: String, sT: String,
                              pair: (DataFrame, DataFrame),
                              extraProps: Map[String, String] = Map.empty): Unit =
      PhaseTimer.time("stage") {
    val (newE, newS) = pair
    val ep = epochOf(spark, eT) + 1
    Tables.dropTablesAndDirs(spark, s"${eT}__next", s"${sT}__next")
    // stage BOTH fully (both plans read the LIVE pair) before any swap;
    // every property rides the STAGING so no crash window leaves a
    // live table missing one. The two staging writes are INDEPENDENT
    // jobs (each reads only live tables + the advance's materialized
    // intermediates), so they run CONCURRENTLY (guide §2.6 — the
    // second job's tasks back-fill the first's scheduling tail);
    // stamps and swaps wait for both, keeping every crash window of
    // the sequential protocol.
    val sWrite = java.util.concurrent.CompletableFuture.runAsync { () =>
      // common-pool threads don't reliably inherit the session
      // thread-local (ADVICE r15): pin it so planning paths that
      // consult getActiveSession see THIS session, not a default one —
      // and restore the worker's previous session afterwards, so the
      // pooled thread doesn't carry this one into unrelated tasks
      val prior = SparkSession.getActiveSession
      SparkSession.setActiveSession(newS.sparkSession)
      try newS.write.saveAsTable(s"${sT}__next")
      finally prior match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None => SparkSession.clearActiveSession()
      }
    }
    // propagate either failure before any stamp — without masking: a
    // join() failure inside a bare finally would REPLACE an in-flight
    // edges-write exception (ADVICE r15), so it is attached as
    // suppressed instead when both writes fail
    var primary: Throwable = null
    try newE.write.saveAsTable(s"${eT}__next")
    catch { case t: Throwable => primary = t; throw t }
    finally {
      try sWrite.join()
      catch {
        case j: Throwable =>
          if (primary == null) throw j else { primary.addSuppressed(j); () }
      }
    }
    stamp(spark, s"${sT}__next", ep)
    extraProps.foreach { case (key, v) =>
      spark.sql(s"ALTER TABLE ${sT}__next SET TBLPROPERTIES('$key'='$v')") }
    stamp(spark, s"${eT}__next", ep)
    // ground truth first: edges, then the derived view
    Incremental.swapStaged(spark, eT)
    Incremental.swapStaged(spark, sT)
  }

  private def applyStaged(spark: SparkSession, name: String,
                          pair: (DataFrame, DataFrame)): Unit =
    applyStagedPair(spark, edgesTable(name), statsTable(name), pair)

  // ─────────────────── k-core as a maintained pair ───────────────────
  // Same layout and protocol as the triangle pair, second derived
  // view: `g_edges(a, b)` ground truth + `g_core(node, deg)` — the
  // STABILIZED k-core survivor set ([[Graph.kCoreFixedPoint]], since
  // [[Graph.advanceKCoreCore]]'s pass-through is only valid from a
  // fixed point). The k rides as a table property so recovery can
  // rebuild the view from ground truth.

  private[ops] def coreTable(name: String): String = s"${name}_core"
  private val KKey = "graft.kcore.k"

  /** Create the k-core pair at epoch 0 (one canonicalization + one
    * fixed-point peel — the last full ones; `edges` may be empty). */
  def initKCoreState(spark: SparkSession, name: String, edges: DataFrame,
                     srcCol: String, dstCol: String, k: Int): Unit = {
    val eT = edgesTable(name); val cT = coreTable(name)
    Tables.dropTablesAndDirs(spark, eT, cT,
      s"${eT}__next", s"${cT}__next", s"${eT}__old", s"${cT}__old")
    PhaseTimer.time("init") {
      Graph.canonPairs(edges, srcCol, dstCol).write.saveAsTable(eT)
      stamp(spark, eT, 0L)
      Graph.kCoreFixedPointCore(spark.table(eT), k).write.saveAsTable(cT)
      stamp(spark, cT, 0L)
      spark.sql(s"ALTER TABLE $cT SET TBLPROPERTIES('$KKey'='$k')")
    }
  }

  /** The maintained survivor set (node, deg). */
  def core(spark: SparkSession, name: String): DataFrame =
    spark.table(coreTable(name))

  /** The advanced (newEdges, newCore) PLANS from the live pair + a raw
    * delta — no writes (the plan-assert surface). */
  def advanceKCorePlan(spark: SparkSession, name: String, delta: DataFrame,
                       srcCol: String, dstCol: String, k: Int): (DataFrame, DataFrame) =
    Graph.advanceKCoreCore(core(spark, name), edges(spark, name),
      Graph.canonPairs(delta, srcCol, dstCol), k)

  /** Fold an edge delta into the k-core pair — frontier-expansion
    * advance ([[Graph.advanceKCoreCore]]), stage-both-swap-both. */
  def advanceKCoreState(spark: SparkSession, name: String, delta: DataFrame,
                        srcCol: String, dstCol: String, k: Int): Unit =
    applyStagedPair(spark, edgesTable(name), coreTable(name),
      PhaseTimer.time("plan") {
        advanceKCorePlan(spark, name, delta, srcCol, dstCol, k) },
      extraProps = Map(KKey -> k.toString))

  /** The retraction twin of [[advanceKCorePlan]] — the plan-assert
    * surface for the deletion side. */
  def retractKCorePlan(spark: SparkSession, name: String, removed: DataFrame,
                       srcCol: String, dstCol: String, k: Int): (DataFrame, DataFrame) =
    Graph.retractKCoreCore(core(spark, name), edges(spark, name),
      Graph.canonPairs(removed, srcCol, dstCol), k)

  /** Retract an edge set (takedowns) from the k-core pair — the
    * deletion-cascade advance ([[Graph.retractKCoreCore]]: the core
    * only shrinks; the cascade region grows outward from the removed
    * edges' core endpoints), completing the maintained-pair lifecycle
    * the triangle family already has ([[retractTriangleState]]). Same
    * staging/epoch protocol; rows not actually present are ignored,
    * so re-applying a retraction after a resolved crash is safe. */
  def retractKCoreState(spark: SparkSession, name: String, removed: DataFrame,
                        srcCol: String, dstCol: String, k: Int): Unit =
    applyStagedPair(spark, edgesTable(name), coreTable(name),
      PhaseTimer.time("plan") {
        retractKCorePlan(spark, name, removed, srcCol, dstCol, k) },
      extraProps = Map(KKey -> k.toString))

  /** Recovery twin of [[recoverTriangleState]] for the k-core pair —
    * the rebuild path re-peels the edges ground truth to its fixed
    * point under the stored k. */
  def recoverKCoreState(spark: SparkSession, name: String): String = {
    val eT = edgesTable(name); val cT = coreTable(name)
    val r1 = Incremental.recoverStateTable(spark, eT)
    val eEp = epochOf(spark, eT)
    val stagedEp = epochOf(spark, s"${cT}__next")
    if (spark.catalog.tableExists(cT) &&
        spark.catalog.tableExists(s"${cT}__next") && stagedEp == eEp &&
        epochOf(spark, cT) != eEp) {
      Incremental.swapStaged(spark, cT)
      "promoted-staged-core"
    } else {
      val r2 = Incremental.recoverStateTable(spark, cT)
      if (epochOf(spark, cT) != eEp) {
        val k = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(cT))
          .properties.getOrElse(KKey, "1").toInt
        Incremental.transformStateTable(spark, cT)(_ =>
          Graph.kCoreFixedPointCore(spark.table(eT), k))
        stamp(spark, cT, eEp)
        spark.sql(s"ALTER TABLE $cT SET TBLPROPERTIES('$KKey'='$k')")
        "rebuilt-core"
      } else if (r1 == "clean" && r2 == "clean") "clean"
      else "resolved"
    }
  }

  // ───────────── HyperANF registers as a maintained pair ─────────────
  // Fourth derived view (round-14 verdict stretch #9 — the
  // maintained-pair posture on the DISTANCE view): `g_edges(a, b)`
  // ground truth + `g_anf(t, node, bucket, r)` — the full portable-HLL
  // register ladder for levels 0..t. Registers are max-mergeable and
  // monotone, so an edge delta advances the ladder by EXACT per-level
  // changed-frontier propagation ([[Graph.advanceAnfCore]]) — the
  // maintained ladder is register-bit-identical to a from-scratch
  // t-round run over the stored edges, which keeps the view a pure
  // function of ground truth (triangle-pair-style recovery) AND lets
  // q243's oracle be the plain from-scratch unroll. The ladder depth
  // rides the staging as a table property the way k-core's k does.

  private[ops] def anfTable(name: String): String = s"${name}_anf"
  private val AnfTKey = "graft.anf.t"

  /** Create the ANF pair at epoch 0 (one canonicalization + one
    * from-scratch t-round register run — the last full ones; `edges`
    * may be empty). */
  def initAnfState(spark: SparkSession, name: String, edges: DataFrame,
                   srcCol: String, dstCol: String, t: Int): Unit = {
    val eT = edgesTable(name); val aT = anfTable(name)
    Tables.dropTablesAndDirs(spark, eT, aT,
      s"${eT}__next", s"${aT}__next", s"${eT}__old", s"${aT}__old")
    PhaseTimer.time("init") {
      Graph.canonPairs(edges, srcCol, dstCol).write.saveAsTable(eT)
      stamp(spark, eT, 0L)
      Graph.anfRegisters(spark.table(eT), t).write.saveAsTable(aT)
      stamp(spark, aT, 0L)
      spark.sql(s"ALTER TABLE $aT SET TBLPROPERTIES('$AnfTKey'='$t')")
    }
  }

  /** The maintained register ladder (t, node, bucket, r). */
  def anfRegisters(spark: SparkSession, name: String): DataFrame =
    spark.table(anfTable(name))

  /** The maintained per-(node, t) ball estimates — what a report
    * reads; identical arithmetic to [[Graph.neighborhoodFunction]]. */
  def anfEstimates(spark: SparkSession, name: String): DataFrame =
    Graph.anfEstimates(anfRegisters(spark, name))

  /** The advanced (newEdges, newLadder) PLANS — the plan-assert
    * surface. */
  def advanceAnfPlan(spark: SparkSession, name: String, delta: DataFrame,
                     srcCol: String, dstCol: String, t: Int)
      : (DataFrame, DataFrame) =
    Graph.advanceAnfCore(anfRegisters(spark, name), edges(spark, name),
      Graph.canonPairs(delta, srcCol, dstCol), t)

  /** Fold an edge delta into the ANF pair — per-level changed-frontier
    * advance, stage-both-swap-both. Already-present delta edges are
    * no-ops (the advance dedups against the edge set and a no-change
    * level propagates an empty frontier), so crash re-application is
    * safe. */
  def advanceAnfState(spark: SparkSession, name: String, delta: DataFrame,
                      srcCol: String, dstCol: String, t: Int): Unit =
    applyStagedPair(spark, edgesTable(name), anfTable(name),
      PhaseTimer.time("plan") {
        advanceAnfPlan(spark, name, delta, srcCol, dstCol, t) },
      extraProps = Map(AnfTKey -> t.toString))

  /** Recovery twin for the ANF pair — the rebuild re-runs the
    * from-scratch register rounds over the edges ground truth under
    * the stored ladder depth (the view is a pure function of the edge
    * set: maintained ≡ rebuilt, register-bit-identical). */
  def recoverAnfState(spark: SparkSession, name: String): String = {
    val eT = edgesTable(name); val aT = anfTable(name)
    val r1 = Incremental.recoverStateTable(spark, eT)
    val eEp = epochOf(spark, eT)
    val stagedEp = epochOf(spark, s"${aT}__next")
    if (spark.catalog.tableExists(aT) &&
        spark.catalog.tableExists(s"${aT}__next") && stagedEp == eEp &&
        epochOf(spark, aT) != eEp) {
      Incremental.swapStaged(spark, aT)
      "promoted-staged-anf"
    } else {
      val r2 = Incremental.recoverStateTable(spark, aT)
      if (epochOf(spark, aT) != eEp) {
        val t = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(aT))
          .properties.getOrElse(AnfTKey, "1").toInt
        Incremental.transformStateTable(spark, aT)(_ =>
          Graph.anfRegisters(spark.table(eT), t))
        stamp(spark, aT, eEp)
        spark.sql(s"ALTER TABLE $aT SET TBLPROPERTIES('$AnfTKey'='$t')")
        "rebuilt-anf"
      } else if (r1 == "clean" && r2 == "clean") "clean"
      else "resolved"
    }
  }

  // ─────────────── communities as a maintained pair ───────────────
  // Third derived view on the maintained edge set (round-14 verdict
  // #3): `g_edges(a, b)` ground truth + `g_comm(node, community)` —
  // the WARM-maintained Louvain assignment ([[Graph.louvainLevel]]'s
  // seed: each advance re-runs `iters` deterministic fine rounds over the
  // new edge set seeded from the previous assignment, so untouched
  // communities re-stabilize in zero moves and only the delta's
  // neighborhood re-settles). Unlike the triangle/k-core views the
  // assignment is NOT a pure function of the edge set — it is a pure
  // function of (edge set, previous assignment), which is exactly the
  // pair that survives every crash window (edges swap first, comm
  // second), so [[recoverCommState]]'s rebuild replays the interrupted
  // advance BIT-IDENTICALLY rather than falling back to a different
  // valid result. The round count rides the staging as a property the
  // way the k-core pair's k does.

  private[ops] def commTable(name: String): String = s"${name}_comm"
  private val CommItersKey = "graft.comm.iters"

  /** Create the community pair at epoch 0 (one canonicalization + one
    * cold [[Graph.louvain]] run — the last cold start; every later
    * change is a warm advance; `edges` may be empty). */
  def initCommState(spark: SparkSession, name: String, edges: DataFrame,
                    srcCol: String, dstCol: String, iters: Int): Unit = {
    val eT = edgesTable(name); val cT = commTable(name)
    Tables.dropTablesAndDirs(spark, eT, cT,
      s"${eT}__next", s"${cT}__next", s"${eT}__old", s"${cT}__old")
    PhaseTimer.time("init") {
      Graph.canonPairs(edges, srcCol, dstCol).write.saveAsTable(eT)
      stamp(spark, eT, 0L)
      Graph.louvainCanon(spark.table(eT), iters, seed = None)
        .write.saveAsTable(cT)
      stamp(spark, cT, 0L)
      spark.sql(
        s"ALTER TABLE $cT SET TBLPROPERTIES('$CommItersKey'='$iters')")
    }
  }

  /** The maintained assignment (node, community). */
  def communities(spark: SparkSession, name: String): DataFrame =
    spark.table(commTable(name))

  /** The advanced (newEdges, newComm) PLANS from the live pair + a raw
    * delta — no writes (the plan-assert surface). */
  def advanceCommPlan(spark: SparkSession, name: String, delta: DataFrame,
                      srcCol: String, dstCol: String, iters: Int)
      : (DataFrame, DataFrame) =
    Graph.advanceCommCore(communities(spark, name), edges(spark, name),
      Graph.canonPairs(delta, srcCol, dstCol), iters)

  /** Fold an edge delta into the community pair — AT MOST `iters` warm
    * rounds seeded from the stored assignment, stopping early once two
    * consecutive rounds move nothing ([[Graph.advanceCommCore]] /
    * [[Graph.louvainLevel]]'s stability stop — from such a state every
    * later round is a no-op, so a fixed-depth oracle unroll matches whether
    * or not the stop fires), stage-both-swap-both. Re-delivering a
    * wave whose advance STABILIZED is the identity (the fixed-point
    * spec case); pick `iters` generous enough that advances stabilize
    * if the delivery layer may re-send waves. */
  def advanceCommState(spark: SparkSession, name: String, delta: DataFrame,
                       srcCol: String, dstCol: String, iters: Int): Unit =
    applyStagedPair(spark, edgesTable(name), commTable(name),
      PhaseTimer.time("plan") {
        advanceCommPlan(spark, name, delta, srcCol, dstCol, iters) },
      extraProps = Map(CommItersKey -> iters.toString))

  /** Recovery twin of [[recoverTriangleState]] for the community pair.
    * The rebuild path re-runs the interrupted warm advance from the
    * still-live previous assignment over the already-swapped new edge
    * set — BIT-IDENTICAL to the uncrashed result, because the advance
    * is a pure function of exactly those two survivors. */
  def recoverCommState(spark: SparkSession, name: String): String = {
    val eT = edgesTable(name); val cT = commTable(name)
    val r1 = Incremental.recoverStateTable(spark, eT)
    val eEp = epochOf(spark, eT)
    val stagedEp = epochOf(spark, s"${cT}__next")
    if (spark.catalog.tableExists(cT) &&
        spark.catalog.tableExists(s"${cT}__next") && stagedEp == eEp &&
        epochOf(spark, cT) != eEp) {
      Incremental.swapStaged(spark, cT)
      "promoted-staged-comm"
    } else {
      val r2 = Incremental.recoverStateTable(spark, cT)
      if (epochOf(spark, cT) != eEp) {
        val iters = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(cT))
          .properties.getOrElse(CommItersKey, "1").toInt
        Incremental.transformStateTable(spark, cT)(prev =>
          Graph.louvainCanon(spark.table(eT), iters, seed = Some(prev)))
        stamp(spark, cT, eEp)
        spark.sql(
          s"ALTER TABLE $cT SET TBLPROPERTIES('$CommItersKey'='$iters')")
        "rebuilt-comm"
      } else if (r1 == "clean" && r2 == "clean") "clean"
      else "resolved"
    }
  }

  /** Detect and resolve an interrupted advance (see the class doc's
    * crash-window table). Returns what it did: `"clean"`,
    * `"resolved"` (danglers dropped — re-apply the delta),
    * `"promoted-staged-stats"` (the completed staging finished its
    * swap), or `"rebuilt-stats"` (derived view recomputed from the
    * edges ground truth). */
  def recoverTriangleState(spark: SparkSession, name: String): String = {
    val eT = edgesTable(name); val sT = statsTable(name)
    val r1 = Incremental.recoverStateTable(spark, eT)
    val eEp = epochOf(spark, eT)
    val stagedEp = epochOf(spark, s"${sT}__next")
    if (spark.catalog.tableExists(sT) &&
        spark.catalog.tableExists(s"${sT}__next") && stagedEp == eEp &&
        epochOf(spark, sT) != eEp) {
      Incremental.swapStaged(spark, sT)
      "promoted-staged-stats"
    } else {
      // a half-swapped stats (live missing, staging present) is
      // completed by the generic recovery; the epoch check below then
      // confirms it caught up
      val r2 = Incremental.recoverStateTable(spark, sT)
      if (epochOf(spark, sT) != eEp) {
        Incremental.transformStateTable(spark, sT)(_ =>
          Graph.triangleStatsCore(spark.table(eT)))
        stamp(spark, sT, eEp)
        "rebuilt-stats"
      } else if (r1 == "clean" && r2 == "clean") "clean"
      else "resolved"
    }
  }
}
