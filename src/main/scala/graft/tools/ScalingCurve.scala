package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Catalog

/** Scaling-curve harness: deterministically expand the sf0.1
  * `documents`/`embeddings` fixtures 10× and 100×, run the dedup/ANN
  * headline queries at each size, and print time-vs-size so SCALING.md
  * can record a measured curve instead of a plan-shape argument.
  *
  * The expansion must NOT manufacture cross-copy near-duplicates (that
  * would make pair-mining output quadratic in the copy count by
  * construction, drowning the signal). Each copy i is therefore a
  * *bijective re-encoding* of the base corpus:
  *
  *  - documents: `translate` through a copy-specific pseudo-random
  *    permutation of 'a'..'z' (seeded by i). A bijection on characters
  *    is a bijection on tokens and on char-ngrams, so every within-copy
  *    Jaccard relation — token-level (q35/q84) and char-level (q42) —
  *    is EXACTLY preserved, while cross-copy overlap is coincidental.
  *    Near-dup density per row is constant in the copy count.
  *  - embeddings: elementwise sign flip by a copy-specific ±1 mask
  *    (a diagonal orthogonal transform): within-copy cosines are
  *    bit-exactly preserved, cross-copy similarities randomized.
  *    The ANN query set (vec_id < 100) stays fixed — only copy 0 keeps
  *    low ids — so q38/q86/q95 measure corpus-side scaling at a
  *    constant query load.
  *
  * Ids are offset by i·10⁶ per copy. Everything is seeded — two runs
  * produce identical corpora.
  */
object ScalingCurve {

  // q99/q100 ride the same harness: `translate` is a character
  // bijection, so within-copy 30-gram equality (and thus every
  // duplicated span) is preserved exactly per copy while cross-copy
  // grams never collide — span density per row stays constant in the
  // copy count, the same invariant the Jaccard miners rely on.
  private val headliners =
    Seq("q35", "q38", "q42", "q84", "q86", "q95", "q99", "q100",
      "q102", "q104",
      // text-quality per-row list algebra — measured to check whether
      // the CodegenFallback HOF tax that bit the span miners also
      // dominates these at x100
      "q39", "q78", "q87",
      // URL canonicalization: a ~10-regex row-local projection + one
      // groupBy — should be ~linear and cheap
      "q107",
      // DSIR: token stream → broadcast ratio join → partial-agg sum;
      // epoch shuffle: one shard-keyed exchange + in-partition sort
      "q108", "q109",
      // Gumbel-top-k DSIR: q108's weight stream + a portable-noise
      // projection + TakeOrderedAndProject — should track q108
      "q110",
      // chunking: row-local generator; line dedup: digest-only
      // shuffle + drop-set join; budget select: per-source window;
      // BPE pairs: wordcount + vocab-sized pair agg
      "q111", "q112", "q113", "q114",
      // PQ-ADC ANN: code scan (16 B/row) + O(m) table lookups — the
      // compressed-index counterpart of q86's int8 scan
      "q115",
      // BPE encode: one regexp pass + 8 literal replaces, row-local;
      // Gopher filter: one token binding, single-level HOF counts
      "q116", "q117",
      // bigram LM: (w1,w2)-keyed count shuffle + gram-keyed joins —
      // the honest vocabulary²-table plan, measured
      "q118",
      // signed random projection: row-local O(outDim·dim) codegen loop
      "q119",
      // table profiler: k-way melt + one (col, value) count shuffle
      "q120",
      // hard negatives: q37's broadcast scan + a label filter before
      // the heap; text normalization: row-local NFC + regex chain;
      // corpus diff: digest-only full-outer join
      "q132", "q133", "q134",
      // NB quality classifier: one (bucket, class-count) partial-agg
      // shuffle to train (B-row model, corpus-independent), one
      // broadcast-join + per-doc DECIMAL sum to score — linear by
      // construction, measured to confirm
      "q136",
      // FFD packing: one (shard, len, id) exchange — 16 B/doc, never
      // text — then one compiled pack expression per shard; shards are
      // the parallelism unit
      "q137",
      // diff-driven index sync: digest-only diff + signatures over the
      // added slice only (the whole point vs a per-snapshot rebuild)
      "q138",
      // byte-level BPE encode: one compiled node per row, zero shuffle
      // beyond the output sort — the string-output twin of q116
      "q140",
      // quality-keep collapse: q84's CC machinery + one row-local TTR
      // score + a cluster-keyed struct-min argmax
      "q141",
      // intra-doc repetition removal: row-local order-preserving
      // array_distinct, zero shuffle — should be q133's flat class
      "q142",
      // HTML extraction: row-local regex/replace chain, zero shuffle —
      // q133's class but ~3× the regex work per byte
      "q143",
      // exact grouped quantiles: one corpus-sized (group, value)
      // count exchange, then domain-sized windows — should be near-flat
      // once the count table saturates the value domain
      "q144",
      // tree-probed IVF at the catalog's fixture-sized tree (nlist=16,
      // ntop=4): corpus-side assignment scan + fixed 20-query probe —
      // q46's class; the LARGE-nlist probe economics are in SCALING.md,
      // "Round-9 addition: the coarse-quantizer TREE probe measured at
      // production nlist" (flat is N·nlist, tree is N·(ntop+w·nlist/ntop))
      "q145",
      // sentence-aware chunking: row-local derivation + one compiled
      // SentencePack generator per doc — q111's near-flat class
      "q146",
      // JSON/CSV round trip: two corpus writes + two reads + one agg —
      // pure I/O volume, should be linear with a flat per-job floor
      "q148",
      // phrase search: the postings explode is corpus-sized but the
      // term filter lands BEFORE the exchange — the curve should show
      // the explode+filter scan, with the adjacency joins flat
      // (matching-term postings only)
      "q151",
      // the persisted-index IR pair (documents-based, so they CAN ride
      // the curve): build cost is the linear part (index write = one
      // corpus explode to a bucketed table), the probes should stay
      // matching-term-sized
      "q156", "q157",
      // PMI collocations: two map-side-combined count exchanges to
      // vocab-sized tables — the curve should be the token-scan slope
      // (translate keeps the pair/unigram tables vocab-sized per copy)
      "q163",
      // mojibake repair: row-local replace/regex chain, zero shuffle —
      // q133's flat class
      "q164",
      // TF-IDF keywords: (doc, term, tf) exchange + vocab-sized df +
      // per-doc top-k window — the tf exchange is the linear part
      "q174",
      // Flesch readability: row-local regex counts + one IEEE tree,
      // zero shuffle — q133's flat class
      "q184",
      // HDR quantile sketch over a continuous quotient double: one
      // compiled bucket node per row + one map-side-combined
      // (group, bucket) exchange to a register table — the quantile
      // walk is register-sized, so the curve should be the scan slope
      "q192",
      // trained multiclass langid: train = one char-trigram explode
      // into a (label, bucket) partial-agg shuffle (C·B-row model),
      // score = a second explode × C broadcast-join rows — the two
      // gram explodes are the linear part, the model is corpus-free
      "q194",
      // snapshot manifest: one corpus write + one read + a map-side-
      // combined shard-count digest aggregate — pure I/O volume
      "q204",
      // boilerplate-line removal (round-11 rewrite): digest-triple
      // mining shuffle + a size-gated per-doc drop-position join —
      // should now track q112's class (the one-row collect_set it
      // replaced had no curve row BY DESIGN: it couldn't scale)
      "q92",
      // ORC+parquet round trip: q148's class with the ORC codec —
      // pure I/O volume, linear with a flat per-job floor
      "q207",
      // image near-dup: byte-4-gram signature (row-local window hash +
      // one (id, bin) partial-agg exchange) + q38's LSH bucket shape —
      // bijective translate preserves within-copy byte-gram equality,
      // so planted near-dup density per row is constant in copies
      "q208",
      // bounded quantile sketch: q192's register exchange + a
      // register-table-sized level fanout — near-flat like q192
      "q213")
      // q150/q152/q153/q154/q155/q158/q159 are NOT here: they read
      // the part/orders/events/lineitem fixtures, which this harness
      // does not expand (only documents/embeddings have the bijective
      // re-encoding story). Their scale evidence is the three fixture
      // scales (sf0.001/0.01/0.1 oracle sweep + bench) plus the
      // structural arguments and plan dumps: q150's candidate volume
      // is prefix-bucket-bounded, q152/q158 touch delta + state only,
      // q153/q154/q159 collapse to domain-sized count tables, q155 is
      // T keyed |E| joins. Likewise the q165-q173 event-analytics
      // family (events-based, q149's situation): their scale evidence
      // is the three fixture scales + structure — q165/q172 are one
      // keyed exchange + a sliding-frame accumulator, q166/q167/q173
      // reduce to user-count-sized intermediates before anything wide,
      // q168/q169/q170/q171 are one keyed exchange into
      // change-point-/session-/type²-sized outputs.
      // q149 (time-series gap-fill) is NOT here: it reads the events
      // fixture, which this harness does not expand (only documents/
      // embeddings have the bijective re-encoding story); its scale
      // argument is structural — one (key,bucket) exchange + a grid
      // priced in span/step rows — and its plan is in PLANS.md
      // q135 (indexed hard negatives, anchors = corpus) is NOT in this
      // list: its anchor set grows WITH the corpus, so at the
      // catalog's fixture-sized nlist=16 the candidate stream is
      // N²·nprobe/16 — measured to fill this box's disk with spill at
      // x100. Its curve runs in the dedicated section below with
      // nlist = 16·f (the SemDeDup posture: cells stay task-sized,
      // candidates linear in N).

  // The full character classes the copy-permutation covers. Uppercase
  // and digits are permuted too (uppercase mirrors the lowercase
  // permutation; digits get their own) so digit/uppercase-heavy docs
  // don't keep shared grams across copies — the harness's "cross-copy
  // near-dup density stays constant" invariant needs every frequent
  // character class scrambled, not just a-z.
  private val FromChars = "abcdefghijklmnopqrstuvwxyz" +
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + "0123456789"

  private def shuffled(chars: Array[Char], rnd: scala.util.Random): String = {
    // Fisher-Yates; seeded → deterministic across runs/JVMs
    var k = chars.length - 1
    while (k > 0) {
      val j = rnd.nextInt(k + 1)
      val t = chars(k); chars(k) = chars(j); chars(j) = t
      k -= 1
    }
    new String(chars)
  }

  private def permutedChars(seed: Int): String = {
    val rnd = new scala.util.Random(seed * 2654435761L + 42L)
    val lower = shuffled(('a' to 'z').toArray, rnd)
    val digits = shuffled(('0' to '9').toArray, rnd)
    lower + lower.toUpperCase + digits
  }

  private def signMask(seed: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { j =>
      val h = (seed * 2654435761L + j * 40503L + 1013904223L) * 6364136223846793005L
      if (((h >>> 32) & 1L) == 0L) 1.0f else -1.0f
    }

  /** Drop an index table AND its warehouse location — a previous
    * harness run killed mid-flight leaves an orphan directory that the
    * in-memory catalog no longer knows about, which fails the next
    * saveAsTable with LOCATION_ALREADY_EXISTS. Rerun-safety only; the
    * library write paths themselves never implicitly overwrite. */
  private def dropIndexTables(spark: SparkSession, names: String*): Unit =
    names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  private def expand(spark: SparkSession, baseDir: String, outDir: String,
                     copies: Int): Unit = {
    val docs = graft.ops.Tables.table(spark, baseDir, "documents")
    val emb = graft.ops.Tables.table(spark, baseDir, "embeddings")
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val docCopies = (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        translate(col("text"), FromChars, permutedChars(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docCopies.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embCopies = (0 until copies).map { i =>
      val mask = signMask(i, dim)
      emb.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        zip_with(col("embedding"), lit(mask), (x, m) => x * m).as("embedding"),
        col("label"))
    }
    embCopies.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the one true conf posture: GraftEngine.recommendedConfs
    val spark = graft.engine.GraftEngine
      .sessionBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // dev aid (same convention as Bench): SPARK_GRAFT_ONLY=q99,q100
    // restricts the curve to matching headliners and skips the
    // index-probe section, so one miner's curve can be (re)measured
    // without paying for the whole sweep
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val queries = Catalog.entries
      .filter { case (n, _, _) => headliners.exists(n.startsWith) &&
        only.forall(_.exists(n.startsWith)) }
      .map(e => (e._1, e._2))

    // The expansion is seeded/deterministic, so an existing dir is
    // bit-identical to what a rerun would write — reuse it unless
    // explicitly asked to re-expand (SPARK_GRAFT_REEXPAND=1), which
    // keeps a restricted SPARK_GRAFT_ONLY sweep from paying the x100
    // rewrite every time. Reuse is additionally keyed on a FINGERPRINT
    // stamped at expand time (sampled outputs of the permutation/mask
    // generators + the id offset + base dir): a code change to
    // expand() changes the fingerprint and forces a re-expand, so a
    // stale dir can never silently skew the recorded curve (the old
    // sentinel-only reuse relied on the operator remembering
    // SPARK_GRAFT_REEXPAND=1 after any expand() edit).
    val reexpand = sys.env.get("SPARK_GRAFT_REEXPAND").contains("1")
    def fingerprint(f: Int): String = {
      val n = math.min(f, 4)
      val perm = (0 until n).map(permutedChars).mkString(",")
      val mask = (0 until n).map(i => signMask(i, 8).mkString("")).mkString(",")
      s"v1;base=$baseDir;copies=$f;idoff=1000000;perm=$perm;mask=$mask"
    }
    factors.foreach { f =>
      val dir = s"$workDir/x$f"
      // sentinel on embeddings.parquet/_SUCCESS — the commit marker of
      // the LAST table expand() writes — so an expansion killed between
      // the two writes OR mid-embeddings-write is never "reused"
      val fpFile = java.nio.file.Paths.get(s"$dir/expand.fingerprint")
      val fpMatches = java.nio.file.Files.exists(fpFile) &&
        new String(java.nio.file.Files.readAllBytes(fpFile), "UTF-8") == fingerprint(f)
      if (reexpand || !fpMatches ||
          !new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()) {
        expand(spark, baseDir, dir, f)
        java.nio.file.Files.write(fpFile, fingerprint(f).getBytes("UTF-8"))
        println(s"[scale] expanded x$f -> $dir")
      } else println(s"[scale] reusing existing $dir")
    }

    // JIT/codegen warmup at the smallest size (not recorded)
    queries.foreach { case (_, fn) =>
      fn(spark, s"$workDir/x${factors.min}")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }

    val rows = for (f <- factors; (name, fn) <- queries) yield {
      val t0 = System.nanoTime()
      fn(spark, s"$workDir/x$f").write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[scale] x$f%-4d $name%-24s ${dt}%8.2f s")
      (name, f, dt)
    }

    // SemDeDup scales by growing nlist with the corpus so the expected
    // cell stays task-sized (the paper's own posture: cluster count
    // grows with the data; per-cell quadratic work is constant). The
    // catalog's fixed nlist=8 is right for the oracle fixture but at
    // x100 a 1/8th-corpus cell would blow past maxCluster and be
    // (correctly) skipped — measuring nothing. So the curve drives
    // semanticDedup directly: nlist = 8·f keeps E[cell] ≈ 625 rows.
    // variants: probes=1/2 under the default min-id keep (q101's shape)
    // plus the paper-faithful diverse-keep policy (q106's shape), so its
    // "q101 + a cluster-sized min-by aggregate" curve claim is measured
    // rather than asserted
    // each variant labeled with its CATALOG name prefix and gated by
    // its OWN label, so SPARK_GRAFT_ONLY=<catalog name> measures
    // exactly that family (a q106-only run no longer pays for the two
    // q101 cells, and downstream tooling can join labels to the
    // catalog)
    val semVariants = Seq(
      (1, "minId", "q101_dedup_semantic_p1"),
      (2, "minId", "q101_dedup_semantic_p2"),
      (1, "diverse", "q106_dedup_semantic_diverse_p1"))
    val semRows = (for (f <- factors;
        (probes, keepP, label) <- semVariants
        if only.forall(_.exists(label.startsWith))) yield {
      val emb = graft.ops.Tables.table(spark, s"$workDir/x$f", "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val t0 = System.nanoTime()
      graft.ops.Dedup.semanticDedup(corpus, "vec_id", "embedding",
          nlist = 8 * f, tau = 0.95, probes = probes, keep = keepP)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[scale] x$f%-4d $label%s(nlist=${8 * f}%d) ${dt}%8.2f s")
      (label, f, dt)
    })

    // Indexed hard negatives (q135) with anchors = the WHOLE corpus —
    // the one curve where the query side grows with the data. nlist =
    // 16·f keeps E[cell] ≈ the fixture's ~31 rows, so the candidate
    // stream is N·nprobe·E[cell] — linear in N — instead of the
    // fixed-nlist N²/4 that filled this box's disk at x100. This is
    // the deployment sizing rule the operator's scaladoc states;
    // measuring under it is measuring the operator as shipped.
    val hnLabel = "q135_hard_negatives_indexed"
    val hnRows = (for (f <- factors if only.forall(_.exists(hnLabel.startsWith))) yield {
      val emb = graft.ops.Tables.table(spark, s"$workDir/x$f", "embeddings")
      val anchors = emb.select(col("vec_id").as("qid"),
        col("embedding").as("qvec"), col("label").as("qlabel"))
      val t0 = System.nanoTime()
      graft.ops.Similarity.hardNegativesQuantized(
          emb, "vec_id", "embedding", "label",
          anchors, "qid", "qvec", "qlabel", k = 3,
          nlist = 16 * f, nprobe = 4)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[scale] x$f%-4d $hnLabel%s(nlist=${16 * f}%d) ${dt}%8.2f s")
      (hnLabel, f, dt)
    })

    // PQ with TRAINED codebooks — the production path. q115's catalog
    // entry pins md5-seeded codebooks so the oracle can re-derive
    // them; pqModelTrained (Lloyd, 2 iterations) is what a deployment
    // runs, and its recall/latency had no curve row before round 8.
    // Each factor measures the trained search wall-time AND recall@10
    // against the exact brute-force ground truth on the same 100-query
    // load (q37's shape) — so SCALING.md can state both the cost and
    // the quality of the compressed path at x1/x10/x100.
    val pqLabel = "q115_ann_pq_trained"
    val pqRun = only.forall(_.exists(pqLabel.startsWith))
    // the recall lever: shortlist size for the exact re-rank
    // (SPARK_GRAFT_PQ_SL, default the catalog's 64)
    val pqSl = sys.env.getOrElse("SPARK_GRAFT_PQ_SL", "64").toInt
    // the sampled-training dial (round 10): comma list of Lloyd
    // train fractions — 1.0 = the full-corpus baseline rows
    val pqFracs = sys.env.getOrElse("SPARK_GRAFT_PQ_TRAINFRAC", "1.0")
      .split(",").map(_.trim.toDouble).toSeq
    if (pqRun) {
      // JIT/codegen warmup at the smallest size (not recorded) — the
      // headliner warmup above is skipped under a restricted
      // SPARK_GRAFT_ONLY, and without this the x-min leg eats the
      // whole JVM warmup tax (measured: 6.96 s at x1 vs 2.35 s at x10)
      val emb = graft.ops.Tables.table(spark, s"$workDir/x${factors.min}", "embeddings")
      val annQ = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Similarity.pqTopK(emb, "vec_id", "embedding", annQ, "qid",
          "qvec", k = 10, m = 16, ksub = 16, shortlist = pqSl,
          trainIterations = 2)
        .write.format("noop").mode("overwrite").save()
      graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          annQ, "qid", "qvec", k = 10)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val pqRows = (for (f <- factors if pqRun) yield {
      val emb = graft.ops.Tables.table(spark, s"$workDir/x$f", "embeddings")
      val annQ = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      def sets(df: DataFrame): Map[Long, Set[Long]] =
        df.select(col("qid").cast("long"), col("vec_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val tB0 = System.nanoTime()
      val exact = sets(graft.ops.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", annQ, "qid", "qvec", k = 10))
      val dtB = (System.nanoTime() - tB0) / 1e9
      spark.catalog.clearCache()
      val perFrac = pqFracs.flatMap { frac =>
        val t0 = System.nanoTime()
        val pq = sets(graft.ops.Similarity.pqTopK(emb, "vec_id", "embedding",
          annQ, "qid", "qvec", k = 10, m = 16, ksub = 16, shortlist = pqSl,
          trainIterations = 2, trainFraction = frac))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val recall = exact.map { case (q, ns) =>
          (ns intersect pq.getOrElse(q, Set.empty)).size.toDouble / ns.size
        }.sum / exact.size
        val tag = if (frac >= 1.0) "" else f"_tf$frac%.2f"
        println(f"[scale] x$f%-4d $pqLabel%s$tag%s(sl=$pqSl%d) train+search " +
          f"${dt}%.2f s  brute ${dtB}%.2f s  recall@10 ${recall}%.3f")
        Seq((pqLabel + tag, f, dt), (pqLabel + tag + "_recall@10", f, recall))
      }
      perFrac ++ Seq(("q37_brute_reference", f, dtB))
    }).flatten

    println("| query | " + factors.map(f => s"x$f (s)").mkString(" | ") + " |")
    (rows ++ semRows ++ pqRows).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      val byF = rs.map(r => r._2 -> r._3).toMap
      println(s"| $name | " +
        factors.map(f => f"${byF(f)}%.2f").mkString(" | ") + " |")
    }

    // Index-probe vs online-remine — the deployment question the
    // persisted indexes answer, measured on the same curve. The crawl
    // split is the incremental shape: 5% new crawl, 95% archive. The
    // one-time build is reported separately from the per-crawl probe;
    // "probing beats re-mining" should hold (and widen) with scale,
    // because the probe never recomputes anything over the archive.
    val indexRows = for (f <- factors if only.isEmpty) yield {
      import graft.ops.{Dedup, Similarity}
      val dir = s"$workDir/x$f"
      val docs = graft.ops.Tables.table(spark, dir, "documents")
      val crawl = docs.where(col("doc_id") % 20 === 0)
      val archive = docs.where(col("doc_id") % 20 =!= 0)
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); dt
      }
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val tOnline = timed(noop(Dedup.crossCorpusJaccardPairs(
        crawl, archive, "doc_id", "text", threshold = 0.7)))
      val (bucketT, sigT) = (s"scale_sig_buckets_x$f", s"scale_sig_sigs_x$f")
      dropIndexTables(spark, bucketT, sigT)
      val tBuild = timed(Dedup.writeSignatureIndex(
        archive, "doc_id", "text", bucketT, sigT))
      val tProbe = timed(noop(Dedup.crossCorpusJaccardPairsFromIndex(
        spark, bucketT, sigT, crawl, archive, "doc_id", "text", threshold = 0.7)))

      val emb = graft.ops.Tables.table(spark, dir, "embeddings")
      val annQueries = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val tIvfOnline = timed(noop(Similarity.ivfTopKQuantized(
        emb, "vec_id", "embedding", annQueries, "qid", "qvec",
        k = 10, nlist = 16, nprobe = 4)))
      val ivfT = s"scale_ivf_x$f"
      dropIndexTables(spark, ivfT)
      var cents: Array[(Long, Array[Float])] = null
      val tIvfBuild = timed {
        cents = Similarity.writeIvfIndex(emb, "vec_id", "embedding", ivfT,
          nlist = 16, numBuckets = 16)
      }
      val tIvfProbe = timed(noop(Similarity.ivfTopKQuantizedFromIndex(
        spark, ivfT, cents, emb, "vec_id", "embedding",
        annQueries, "qid", "qvec", k = 10, nprobe = 4)))
      println(f"[scale] x$f%-4d sig online/build/probe ${tOnline}%.2f/${tBuild}%.2f/${tProbe}%.2f s" +
        f"  ivf online/build/probe ${tIvfOnline}%.2f/${tIvfBuild}%.2f/${tIvfProbe}%.2f s")
      (f, Seq(tOnline, tBuild, tProbe, tIvfOnline, tIvfBuild, tIvfProbe))
    }
    val indexMetrics = Seq("sig_online_remine", "sig_index_build",
      "sig_index_probe", "ivf_online", "ivf_index_build", "ivf_index_probe")
    println("| metric | " + factors.map(f => s"x$f (s)").mkString(" | ") + " |")
    indexMetrics.zipWithIndex.foreach { case (m, i) =>
      println(s"| $m | " +
        indexRows.map { case (_, ts) => f"${ts(i)}%.2f" }.mkString(" | ") + " |")
    }
    spark.stop()
  }
}
