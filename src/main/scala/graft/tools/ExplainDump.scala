package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** Dumps formatted physical plans — the artifact for plan review: scan
  * pruning (ReadSchema), filter pushdown (PushedFilters), broadcast vs
  * shuffle join selection, WholeStageCodegen spans, and exchange
  * placement.
  *
  * Usage: `runMain graft.tools.ExplainDump <sfDir> [--names a,b]
  * [--out DIR] [--exec]`
  *
  *  - default: the headline queries, concatenated into `PLANS.md`;
  *  - `--names a,b`: only those names (catalog queries, the lazy
  *    overrides and the maintained-pair advance surfaces below);
  *  - `--out DIR`: one `DIR/<name>.txt` per name instead of PLANS.md
  *    (before/after evidence: dump into two directories and diff);
  *  - `--exec`: execute each query first and dump the FINAL adaptive
  *    plan (`isFinalPlan=true`) — the only view of AQE runtime
  *    rewrites (SMJ→SHJ conversion, coalesced reads).
  *
  * The session is the engine's own conf posture
  * ([[graft.engine.GraftEngine.sessionBuilder]]) at local[4].
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val usage = "usage: ExplainDump <sfDir> [--names a,b] [--out DIR] [--exec]"
    var names: Option[Seq[String]] = None
    var outDir: Option[String] = None
    var exec = false
    var positional = List.empty[String]
    def parse(rest: List[String]): Unit = rest match {
      case Nil =>
      case "--names" :: v :: tl => names = Some(v.split(",").map(_.trim).toSeq); parse(tl)
      case "--out" :: v :: tl => outDir = Some(v); parse(tl)
      case "--exec" :: tl => exec = true; parse(tl)
      case a :: tl if !a.startsWith("--") => positional :+= a; parse(tl)
      case a :: _ => sys.error(s"unknown or incomplete flag $a; $usage")
    }
    parse(args.toList)
    val sfDir = positional.headOption.getOrElse(sys.error(usage))
    val spark = graft.engine.GraftEngine.sessionBuilder("local[4]", 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val headline = Seq(
      "q01_scan_project", "q02_filter_pred", "q03_join_broadcast",
      "q04_join_shuffle", "q09_join_asof", "q10_agg_tpch_q1",
      "q18_sort_topk", "q28_window_tumbling", "q35_dedup_minhash",
      "q37_ann_bruteforce", "q58_join_asof_planned", "q54_agg_percentile",
      "q67_join_band", "q69_agg_topk", "q72_join_range_binned",
      "q46_ann_ivf", "q77_pipeline_e2e", "q79_layout_zorder",
      "q81_text_bm25", "q84_dedup_keep_one", "q86_ann_quantized",
      "q87_text_unigram_lm", "q90_agg_cms", "q98_decontam_salted",
      "q99_dedup_spans", "q100_dedup_spans_winnow", "q101_dedup_semantic",
      "q102_dedup_spans_remove", "q104_dedup_spans_cross",
      "q106_dedup_semantic_diverse", "q107_url_dedup", "q108_select_dsir",
      "q109_epoch_shuffle", "q110_select_dsir_gumbel", "q111_chunk_overlap",
      "q112_dedup_lines_global", "q113_budget_select", "q114_bpe_merges",
      "q115_ann_pq", "q116_bpe_encode", "q117_gopher_filter",
      "q118_text_bigram_lm", "q119_embed_project", "q120_profile_summary",
      "q121_bloom_probe", "q131_compact", "q132_hard_negatives",
      "q133_text_normalize", "q134_corpus_diff",
      "q135_hard_negatives_indexed", "q136_quality_classifier",
      "q137_ffd_packing", "q138_index_sync", "q139_optimize_table",
      "q140_bpe_encode_text", "q141_dedup_keep_best",
      "q142_text_dedup_lines_intra", "q143_text_html_extract",
      "q144_profile_quantiles", "q145_ann_ivf_tree",
      "q146_text_chunk_sentences", "q148_source_roundtrip",
      "q149_timeseries_gapfill",
      "q150_dedup_edit_join", "q151_search_phrase",
      "q152_incr_agg_state", "q153_profile_robust_outliers",
      "q154_profile_key_skew", "q155_graph_pagerank",
      "q156_search_phrase_indexed", "q157_search_bm25_indexed",
      "q158_sketch_state_hll", "q159_profile_winsorize",
      "q161_entity_resolution", "q162_graph_pagerank_seeded",
      "q163_text_collocations_pmi", "q164_text_mojibake_repair",
      "q165_events_rolling_range", "q166_events_funnel",
      "q167_events_retention_cohorts", "q168_scd2_build",
      "q169_scd2_point_in_time", "q170_events_sessionize",
      "q171_events_transitions", "q172_events_rolling_anomaly",
      "q173_events_active_users", "q174_text_tfidf_keywords",
      "q175_cdc_apply", "q176_events_abtest",
      "q178_events_funnel_latency", "q179_scd2_incremental",
      "q180_events_pipeline", "q181_graph_label_prop",
      "q182_events_paths", "q183_events_seasonal",
      "q184_text_readability", "q185_quality_audit", "q186_events_rfm",
      "q187_events_session_funnel", "q189_basket_lift",
      "q190_quantile_sketch", "q191_quantile_sketch_state",
      "q192_quantile_sketch_docs", "q194_langid_trained",
      "q195_pipeline_langid_trained", "q196_dau_exact_and_sketch",
      "q197_multimodal_av_headers", "q198_profile_continuous",
      "q199_survival_churn", "q201_bitemporal_asof",
      "q203_dedup_cc_incremental", "q204_snapshot_manifest",
      "q205_bitemporal_table", "q206_join_deep_q5",
      "q207_orc_roundtrip", "q208_image_neardup",
      "q209_bitemporal_incremental", "q210_join_market_share",
      "q213_quantile_sketch_bounded", "q215_join_q21_waiting",
      "q216_wav_pcm_stats", "q217_graph_louvain",
      "q219_graph_louvain_multilevel", "q220_graph_triangles",
      "q221_graph_louvain_weighted", "q222_mp4_sample_table",
      "q223_graph_kcore", "q224_graph_triangles_incremental",
      "q225_graph_pagerank_weighted", "q226_unigram_lm_train",
      "q227_unigram_lm_segment", "q228_graph_ktruss",
      "q229_graph_triangles_retract",
      // round-14 (q230/q236 are streaming-gate loops — absent like the
      // rest of that family; their evidence is the oracle + the
      // GraphStateSpec scan audit)
      "q231_graph_kcore_incremental", "q232_graph_neighborhood",
      "q233_wordpiece_encode", "q234_exif_tags",
      "q235_graph_pagerank_warm",
      // round-15 (q238/q243 are streaming-gate loops — their plan
      // evidence is the GraphStateSpec scan audits + the maintained-
      // pair advance plans dumped below; q239 composes the already-
      // dumped signature_index_probe with q203's CC advance; q241's
      // output is a driver-built merge table — its work is the
      // per-round jobs, spec-pinned)
      "q240_graph_effective_diameter", "q242_graph_degree_profile",
      "triangle_advance_plan", "kcore_advance_plan",
      "comm_advance_plan", "anf_advance_plan",
      // q122-q130 + q147 + q160 + q177 + q188 + q193 + q200 (streaming gate family) are deliberately absent: their
      // returned frame is a memory-sink scan, so a physical-plan dump
      // carries no information — their evidence is the DuckDB oracle
      // (two-watermark arithmetic: late input is filtered with the
      // previous batch's watermark, state evicted with the current
      // one) + StreamOpsSpec
      "ivf_index_probe", "signature_index_probe")
    // q35's production path materializes eagerly (checkpoint + cache
    // release), which would collapse its dumped plan to the checkpoint
    // scan — dump the lazy formulation instead (same pipeline, full plan)
    val lazyOverrides: Map[String, (SparkSession, String) => DataFrame] =
      Map(
        "q35_dedup_minhash" -> ((s: SparkSession, d: String) =>
          graft.ops.Dedup.minhashJaccardPairs(
            graft.ops.Tables.table(s, d, "documents"), "doc_id", "text",
            shingleN = 3, threshold = 0.7, materialize = false)
            .orderBy("id_a", "id_b")),
        // (the span miners' default is the recompute form — the dumped
        // q99/q100 plans legitimately show the gram explode twice; the
        // 2× scan is the measured-cheaper trade, see spansFromGrams)
        // the persisted-ANN-index read-back probe: checkpoints are the
        // bucketed index scan (Bucketed: true, SelectedBucketsCount <
        // total — only the probed cells' buckets are read, via the
        // pushed cent_id IN filter) and that no exchange carries the
        // packed codes or float vectors (shortlists/queries broadcast)
        "ivf_index_probe" -> ((s: SparkSession, d: String) => {
          val emb = graft.ops.Tables.table(s, d, "embeddings")
          val queries = emb.where(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
          s.sql("DROP TABLE IF EXISTS ivf_idx_plans")
          // a crashed previous run can leave the managed location behind
          // with no catalog entry — saveAsTable then refuses the name
          val loc = new java.io.File(
            new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath,
            "ivf_idx_plans")
          if (loc.exists()) graft.ops.LocalFiles.deleteRecursively(loc.getPath)
          val cents = graft.ops.Similarity.writeIvfIndex(
            emb, "vec_id", "embedding", "ivf_idx_plans",
            nlist = 16, numBuckets = 16)
          graft.ops.Similarity.ivfTopKQuantizedFromIndex(s, "ivf_idx_plans",
            cents, emb, "vec_id", "embedding", queries, "qid", "qvec",
            k = 10, nprobe = 4)
        }),
        // the persisted-signature incremental-dedup probe: checkpoints
        // are Bucketed: true on both index scans and NO exchange between
        // a raw index scan and its first join (only the new-crawl side
        // moves — SignatureIndexSpec asserts the same shape)
        "signature_index_probe" -> ((s: SparkSession, d: String) => {
          val docs = graft.ops.Tables.table(s, d, "documents")
          val existing = docs.where(col("doc_id") % 5 =!= 0)
          val newCrawl = docs.where(col("doc_id") % 5 === 0)
          Seq("sig_idx_plans_b", "sig_idx_plans_s").foreach { t =>
            s.sql(s"DROP TABLE IF EXISTS $t")
            val loc = new java.io.File(
              new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t)
            if (loc.exists()) graft.ops.LocalFiles.deleteRecursively(loc.getPath)
          }
          graft.ops.Dedup.writeSignatureIndex(existing, "doc_id", "text",
            "sig_idx_plans_b", "sig_idx_plans_s", numBuckets = 8)
          graft.ops.Dedup.crossCorpusJaccardPairsFromIndex(s,
            "sig_idx_plans_b", "sig_idx_plans_s", newCrawl, existing,
            "doc_id", "text", threshold = 0.5, materialize = false)
        }))
    val all = graft.queries.Catalog.queries ++ lazyOverrides ++ advancePlans
    val selected = names.getOrElse(headline)
    selected.filterNot(all.contains).foreach(n =>
      System.err.println(s"[explain] unknown query: $n"))
    val dumps = selected.filter(all.contains).sorted.map { name =>
      val df = all(name)(spark, sfDir)
      if (exec) df.collect()
      // committed review artifacts: scratch paths are pid-keyed
      // (LocalFiles.processScratchDir), so without masking every
      // regeneration diffs on the JVM pid alone and the
      // regenerate-and-diff plan-review workflow drowns in noise
      name -> df.queryExecution.explainString(FormattedMode)
        .replaceAll("-pid\\d+", "-pidXXXX")
    }
    outDir match {
      case Some(dir) =>
        Files.createDirectories(Paths.get(dir))
        dumps.foreach { case (name, plan) =>
          Files.writeString(Paths.get(dir, s"$name.txt"), plan)
          println(s"wrote $dir/$name.txt")
        }
      case None =>
        val sb = new StringBuilder
        sb.append("# PLANS — formatted physical plans of headline queries\n\n")
        sb.append(s"Generated by `graft.tools.ExplainDump` on `$sfDir`.\n")
        sb.append("Checkpoints: pruned ReadSchema, PushedFilters on scans, broadcast\n")
        sb.append("joins for dims, TakeOrderedAndProject for top-k, partial aggregation\n")
        sb.append("before exchanges, WholeStageCodegen coverage.\n\n")
        dumps.foreach { case (name, plan) =>
          sb.append(s"## $name\n\n```\n$plan\n```\n\n") }
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println("wrote PLANS.md")
    }
    spark.stop()
  }

  /** Edges of the co-order part graph (q220's) over the orders `pred`
    * selects — the base and delta of the advance surfaces. */
  private def pairsOf(s: SparkSession, d: String, pred: Column => Column): DataFrame = {
    val li = graft.ops.Tables.table(s, d, "lineitem")
      .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey")))
      .select(col("l_orderkey"), col("l_partkey"))
    li.join(li.select(col("l_orderkey"), col("l_partkey").as("__p2")),
        Seq("l_orderkey"))
      .where(col("l_partkey") < col("__p2"))
      .select(col("l_partkey").as("src"), col("__p2").as("dst"))
  }

  private def scrub(s: SparkSession, name: String, derived: String): Unit =
    graft.ops.Tables.dropTablesAndDirs(s,
      s"${name}_edges", s"${name}_$derived",
      s"${name}_edges__next", s"${name}_${derived}__next",
      s"${name}_edges__old", s"${name}_${derived}__old")

  private def base(s: SparkSession, d: String): DataFrame = pairsOf(s, d, ok => ok % 3 =!= 0)
  private def delta(s: SparkSession, d: String): DataFrame = pairsOf(s, d, ok => ok % 3 === 0)

  /** The maintained graph pairs' ADVANCE plans: the *Plan surfaces
    * GraphStateSpec audits, dumped where every other operator's plan
    * lives. Checkpoints: scans are the state pair + the (checkpointed)
    * delta only — never raw history — with the edge table
    * broadcast-PROBED (one scan, no exchange on it) on the fresh-delta
    * check. */
  private val advancePlans: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.ops.{GraphState => G}
    Map(
      "triangle_advance_plan" -> { (s, d) =>
        scrub(s, "plans_tri", "stats")
        G.initTriangleState(s, "plans_tri", base(s, d), "src", "dst")
        G.advanceTrianglePlan(s, "plans_tri", delta(s, d), "src", "dst")._2
      },
      "kcore_advance_plan" -> { (s, d) =>
        scrub(s, "plans_kc", "core")
        G.initKCoreState(s, "plans_kc", base(s, d), "src", "dst", k = 20)
        G.advanceKCorePlan(s, "plans_kc", delta(s, d), "src", "dst", k = 20)._2
      },
      "kcore_retract_plan" -> { (s, d) =>
        scrub(s, "plans_kcr", "core")
        G.initKCoreState(s, "plans_kcr", base(s, d), "src", "dst", k = 20)
        G.retractKCorePlan(s, "plans_kcr",
          base(s, d).where((col("src") + col("dst")) % 11 === 0),
          "src", "dst", k = 20)._2
      },
      "comm_advance_plan" -> { (s, d) =>
        scrub(s, "plans_cm", "comm")
        G.initCommState(s, "plans_cm", base(s, d), "src", "dst", iters = 2)
        G.advanceCommPlan(s, "plans_cm", delta(s, d), "src", "dst", iters = 2)._2
      },
      "anf_advance_plan" -> { (s, d) =>
        scrub(s, "plans_anf", "anf")
        G.initAnfState(s, "plans_anf", base(s, d), "src", "dst", t = 2)
        G.advanceAnfPlan(s, "plans_anf", delta(s, d), "src", "dst", t = 2)._2
      })
  }
}
