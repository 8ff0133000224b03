package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextOps._

/** Deduplication for training-data pipelines (north-star extension).
  *
  * Scale design: every variant avoids the n² pair space. Exact dedup
  * groups on a content hash (shuffle keyed on 16-byte digests, never raw
  * documents). Near-dup mining (MinHash-LSH, SimHash) shuffles only
  * (band, bucket, id) tuples; the quadratic blow-up is confined to
  * per-bucket candidate sets, then pruned by exact verification.
  */
object Dedup {

  private def spreadCompute(df: DataFrame, idCol: String): DataFrame =
    Tables.spread(df, idCol)

  /** Default per-bucket population cap for LSH candidate joins. A bucket
    * of B ids contributes ~B²/2 candidate pairs, so one degenerate key
    * (thousands of near-identical boilerplate docs, all-zero embeddings)
    * makes the self-join quadratic *in that bucket* — the one
    * data-dependent blow-up in band-LSH mining. 1024 bounds any single
    * bucket at ~500k pairs (one task-sized unit of work) while sitting
    * far above every bucket a non-degenerate corpus produces.
    *
    * Recall trade (documented contract): pairs whose EVERY collision
    * bucket exceeds the cap are lost. Identical-document pile-ups — the
    * common way a bucket degenerates — should be removed by [[exact]]
    * dedup first, which makes the cap safe; clusters of >1024 distinct
    * near-dups are boilerplate-shaped and better handled by
    * [[TextOps.interdocBoilerplate]] removal than by pair mining.
    * Pass `maxBucket = Int.MaxValue` to disable. */
  val DefaultMaxBucket: Int = 1024

  /** Session-conf key: duplicate-id count above which the final
    * "drop the non-representatives" anti-join stops FORCING a broadcast
    * and falls back to a plain (shuffle) anti-join. At crawl-scale dup
    * rates (30-60% of a multi-billion-doc corpus) the drop set is tens
    * of GB of ids — over any executor broadcast budget — and a forced
    * hint would OOM the driver where a shuffle anti-join (cheap next to
    * the mining that produced the pairs) just runs. The count used for
    * the decision is the connected-components label-table size — an
    * upper bound on the drop set, and free to compute because CC output
    * is checkpoint-truncated (counting scans materialized blocks, not
    * lineage). Default 10M ids ≈ low hundreds of MB broadcast. */
  val MaxBroadcastIdsKey = "spark.graft.dedup.maxBroadcastIds"
  private val MaxBroadcastIdsDefault = 10L * 1000 * 1000

  private[ops] def broadcastIdLimit(df: DataFrame): Long =
    df.sparkSession.conf.getOption(MaxBroadcastIdsKey)
      .map { v =>
        try v.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$MaxBroadcastIdsKey must be a plain long row count, got '$v'")
        }
      }.getOrElse(MaxBroadcastIdsDefault)

  /** `small` hinted broadcast below the conf limit, hint-free above it
    * (`dupCount` = caller's bound on `small`'s rows). Shared across ops
    * (ANN query/shortlist gating reuses it) — the conf key keeps its
    * historical `dedup.` prefix but the limit is engine-wide. */
  private[ops] def maybeBroadcast(small: DataFrame, dupCount: Long): DataFrame =
    if (dupCount <= broadcastIdLimit(small)) broadcast(small) else small

  /** Default signature length for the prefilter ESTIMATOR. The bucket
    * stage only needs bands×rows lanes (48-64), but the 6σ prefilter
    * cutoff is `threshold − 6·sqrt(t(1−t)/lanes)` — at 48 lanes that is
    * est ≥ 0.30, which on template-heavy corpora admits tens of
    * millions of mid-similarity pairs into the exact gram verify (the
    * measured q42@x100 profile: 21M of 96M candidates survived, and
    * the verify's per-pair multi-KB array joins were ~70% of the
    * miner's runtime). At 192 lanes the same 6σ guarantee tightens the
    * cutoff to est ≥ 0.50, which on that profile admits ~50k — the
    * signature cost grows by ~3× (still a rounding error next to the
    * verify it starves) and a true ≥-threshold pair is still dropped
    * with probability ≤ 1e-9. Lanes beyond bands×rows change NO bucket
    * decisions — enumeration recall is untouched. */
  val DefaultEstHashes: Int = 192

  /** Drop LSH buckets with more than `maxBucket` members. Oversized
    * keys are found with a partial-aggregating groupBy count — the
    * shuffle moves one (key, count) row per bucket, not per member —
    * and by construction at most n/maxBucket buckets qualify, so the
    * result broadcasts and the filter is a broadcast anti-join: the
    * bucket rows themselves never take an extra exchange or sort.
    * (A whole-partition window was measured 1.7-2.2x slower here: it
    * buffers every bucket row through its own hash exchange.)
    *
    * Used where the bucket rows must stay a JOINABLE STREAM — the index
    * probe (the other side is a pre-bucketed table that must not be
    * re-grouped) and the index write. The self-join miners use
    * [[bucketedSelfPairs]]/[[bucketedCrossPairs]] instead, where the
    * cap is free: a round-4→5 interleaved bench bisect measured this
    * extra pass + anti-join at ~1-2 s per miner call at sf0.1 (q36
    * 0.92→1.91 s, q42 3.19→5.23 s, q93 0.90→1.76 s same-condition),
    * which the grouped pair enumeration eliminates. */
  private[graft] def capBuckets(buckets: DataFrame, keyCols: Seq[String],
                                maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) buckets
    else {
      val oversized = buckets
        .groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bucket_n"))
        .where(col("__bucket_n") > maxBucket)
        .select(keyCols.map(col): _*)
      // Size-gated in ONE pass (the engine-wide maybeBroadcast limit,
      // without a second counting aggregate — a first-cut gate that
      // counted then re-aggregated for the broadcast build measured
      // +1.6 s on q138): collect at most limit+1 oversized keys — the
      // same driver-side materialization a broadcast build performs —
      // and if the set is COMPLETE (≤ limit) anti-join against it as a
      // broadcast local relation, zero recompute. Under adversarial
      // degenerate data (more oversized keys than the limit) the
      // partial collect is discarded and the anti-join runs hint-free
      // (shuffle) instead of OOMing the driver.
      val spark = buckets.sparkSession
      val limit = math.min(broadcastIdLimit(buckets), 100L * 1000 * 1000).toInt
      val head = oversized.limit(limit + 1).collect()
      if (head.length <= limit) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(head: _*), oversized.schema)
        buckets.join(broadcast(local), keyCols, "left_anti")
      } else buckets.join(oversized, keyCols, "left_anti")
    }

  /** Within-bucket candidate pairs (id_a < id_b, distinct) from one
    * stream of (keyCols..., id) bucket rows — the classic LSH pair
    * enumeration: ONE shuffle groups members per bucket
    * (collect_list), the degenerate-bucket cap is a free `size()`
    * filter on the same aggregate (no second counting pass, no
    * broadcast anti-join — see [[capBuckets]] for the measured cost
    * this removes), and pairs explode bucket-locally. The old
    * formulation self-joined the bucket stream on the key: two
    * exchanges + the cap pass where this takes one exchange total.
    *
    * Transient-memory note: an oversized bucket's member list IS
    * materialized in its aggregation buffer before the size filter
    * discards it (bucket-sized, one buffer) — the price of counting
    * and collecting in one pass; at 8 bytes/member a pathological
    * million-member key costs one 8 MB buffer, transiently. */
  private[graft] def bucketedSelfPairs(buckets: DataFrame, idCol: String,
                                       keyCols: Seq[String],
                                       maxBucket: Int): DataFrame = {
    val grouped = buckets
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(col(idCol)).as("__ids"))
      .where(size(col("__ids")).between(2,
        if (maxBucket == Int.MaxValue) Int.MaxValue else maxBucket))
    grouped
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct() // a pair may collide in several bands/tables
  }

  /** Scored variant of [[bucketedSelfPairs]] for miners whose exact
    * verification needs only a small fixed-width per-row payload (a
    * simhash long, an embedding vector): the payload rides the ONE
    * bucket exchange inside the grouped member list, `score` evaluates
    * bucket-locally on each within-bucket pair, and `keep` filters
    * BEFORE the cross-band distinct — so the only post-bucket shuffle
    * carries verified (id_a, id_b, score) survivors instead of every
    * candidate pair re-joining the corpus twice for its payloads.
    *
    * Shuffle accounting vs the join-back formulation (why this wins
    * whenever payload bytes ≪ candidatesPerRow × payload bytes, i.e.
    * whenever bucket occupancy ≫ 2): the payload is shuffled once per
    * bucket row (×bands/tables), while the join-back path shuffles it
    * once per CANDIDATE side (×occupancy×tables/2) plus two sort-merge
    * sorts of the pair stream. Measured on the x100 sign-LSH curve
    * (SCALING.md): 200k×64-float corpus, ~29M candidates — payload
    * rows ~700 MB through one exchange vs ~8 GB through the pair
    * joins. NOT for gram-array/signature verification (q35/q42): those
    * payloads are KB-sized per row and band-multiplied, so the id-only
    * enumeration + semi-join pushdown stays cheaper there.
    *
    * `score` must be deterministic — a pair surviving in several
    * bands/tables yields bit-identical rows, and the final distinct
    * collapses them exactly. */
  private[graft] def bucketedSelfPairsScored(
      buckets: DataFrame, idCol: String, payloadCol: String,
      keyCols: Seq[String], maxBucket: Int,
      score: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val grouped = buckets
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(col(idCol).as("id"), col(payloadCol).as("p")))
        .as("__ms"))
      .where(size(col("__ms")).between(2,
        if (maxBucket == Int.MaxValue) Int.MaxValue else maxBucket))
    grouped
      .select(explode(col("__ms")).as("__a"), col("__ms"))
      .select(col("__a"), explode(col("__ms")).as("__b"))
      .where(col("__a")("id") < col("__b")("id"))
      .select(col("__a")("id").as("id_a"), col("__b")("id").as("id_b"),
        score(col("__a")("p"), col("__b")("p")).as("score"))
      .where(keep(col("score")))
      .distinct()
  }

  /** Cross-corpus variant of [[bucketedSelfPairs]]: candidate pairs
    * between an a-side and a b-side bucket stream sharing key columns.
    * Both sides union into ONE grouped pass (collect_list skips the
    * other side's nulls); the per-side cap is the same free size
    * filter — a bucket of A·B candidate pairs is bounded once either
    * factor is. */
  private[graft] def bucketedCrossPairs(bucketsA: DataFrame, bucketsB: DataFrame,
                                        keyCols: Seq[String],
                                        maxBucket: Int): DataFrame = {
    val keys = keyCols.map(col)
    val tagged = bucketsA.select(keys :+ col("id_a").as("__id") :+ lit(true).as("__a"): _*)
      .unionAll(bucketsB.select(keys :+ col("id_b").as("__id") :+ lit(false).as("__a"): _*))
    val cap = if (maxBucket == Int.MaxValue) Int.MaxValue else maxBucket
    tagged
      .groupBy(keys: _*)
      .agg(collect_list(when(col("__a"), col("__id"))).as("__ids_a"),
        collect_list(when(!col("__a"), col("__id"))).as("__ids_b"))
      .where(size(col("__ids_a")).between(1, cap) &&
        size(col("__ids_b")).between(1, cap))
      .select(explode(col("__ids_a")).as("id_a"), col("__ids_b"))
      .select(col("id_a"), explode(col("__ids_b")).as("id_b"))
      .distinct()
  }

  /** Scored variant of [[bucketedCrossPairs]] (mirrors
    * [[bucketedSelfPairsScored]]): both sides carry a small fixed-width
    * payload column `p` through the one bucket exchange, `score`
    * evaluates bucket-locally on each a×b pair and `keep` filters
    * before the cross-band distinct. Input frames: (keyCols…, id_a, p)
    * and (keyCols…, id_b, p). */
  private[graft] def bucketedCrossPairsScored(
      bucketsA: DataFrame, bucketsB: DataFrame, keyCols: Seq[String],
      maxBucket: Int, score: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val keys = keyCols.map(col)
    val tagged = bucketsA.select(
        keys :+ struct(col("id_a").as("id"), col("p")).as("__m")
          :+ lit(true).as("__a"): _*)
      .unionAll(bucketsB.select(
        keys :+ struct(col("id_b").as("id"), col("p")).as("__m")
          :+ lit(false).as("__a"): _*))
    val cap = if (maxBucket == Int.MaxValue) Int.MaxValue else maxBucket
    tagged
      .groupBy(keys: _*)
      .agg(collect_list(when(col("__a"), col("__m"))).as("__ms_a"),
        collect_list(when(!col("__a"), col("__m"))).as("__ms_b"))
      .where(size(col("__ms_a")).between(1, cap) &&
        size(col("__ms_b")).between(1, cap))
      .select(explode(col("__ms_a")).as("__pa"), col("__ms_b"))
      .select(col("__pa"), explode(col("__ms_b")).as("__pb"))
      .select(col("__pa")("id").as("id_a"), col("__pb")("id").as("id_b"),
        score(col("__pa")("p"), col("__pb")("p")).as("score"))
      .where(keep(col("score")))
      .distinct()
  }

  /** Exact dedup: one representative (min id) per identical content.
    * Returns (h, keep_id, n_copies). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep only the representative rows (drop exact duplicates). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(exact(df, idCol, textCol).select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

  /** Snapshot diff between two corpus versions — the ingest audit:
    * which documents were added, removed, or changed between yesterday's
    * table and today's. Returns ONLY the delta rows
    * (idCol, status ∈ added|removed|changed) — the unchanged mass (the
    * corpus) is filtered out before anything downstream touches it.
    *
    * Scale design: both sides reduce to (id, sha256(text)) BEFORE the
    * full-outer join, so the shuffle carries two fixed-width digests
    * per row, never the text; at 100 TB the diff costs two pruned
    * scans + one digest-keyed exchange. sha2-256, not md5: this is an
    * AUDIT — md5 collisions are practically constructible (and the
    * known attacks produce equal-length twins, so md5+length is no
    * stronger), so an adversarially crafted edit could report
    * 'unchanged'. Null-content rows digest as null and compare
    * null-safely (a null-vs-text flip is 'changed').
    *
    * PRECONDITION: idCol is unique WITHIN each snapshot (the contract
    * of a keyed table version) — duplicate ids on a side would
    * multiply rows through the full-outer join and emit contradictory
    * statuses. Run [[exact]]/[[dropExactDuplicates]] first if the
    * snapshots may contain id dups. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    // presence is tracked with its own flag, NOT the digest's nullness:
    // a row whose text is null digests to null and would otherwise be
    // indistinguishable from an absent row
    def digests(df: DataFrame, d: String, p: String): DataFrame =
      df.select(col(idCol), sha2(col(textCol).cast("binary"), 256).as(d),
        lit(true).as(p))
    digests(oldDf, "__od", "__op")
      .join(digests(newDf, "__nd", "__np"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__op").isNull, "added")
          .when(col("__np").isNull, "removed")
          .when(!(col("__od") <=> col("__nd")), "changed")
          .otherwise("unchanged"))
      .where(col("status") =!= "unchanged")
      .select(col(idCol), col("status"))
  }

  /** MinHash signature as a per-row column expression (HOF form). Kept
    * for API completeness — prefer [[minhashSignatures]], which is
    * ~50× faster: higher-order-function lambdas evaluate interpreted,
    * O(numHashes × shingles) per row. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shinglesCol, s => xxhash64(s, i))))

  /** MinHash signatures as a pure per-row map: the shingle array is
    * row-local, so the whole signature folds inside ONE
    * [[graft.functions.MinHashSigRow]] expression — no explode, no
    * aggregation, no shuffle; the signature stage is just a column on
    * the corpus scan. (The explode + [[graft.functions.MinHashSig]]
    * aggregate formulation remains for pre-exploded inputs; it computes
    * the bit-identical signature.) Returns (idCol, sig: array<bigint>);
    * ids are assumed unique per row. */
  def minhashSignatures(df: DataFrame, idCol: String, shinglesCol: Column,
                        numHashes: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.MinHashSig.sigRow(shinglesCol, numHashes).as("sig"))

  /** LSH band buckets from a signature: `bands` buckets of `rows`
    * signature entries each (numHashes = bands * rows). */
  def lshBuckets(sigCol: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64((Seq[Column](b) ++ (0 until rows).map(r =>
        element_at(sigCol, b * rows + r + 1))): _*))

  /** Near-duplicate pairs by word-shingle Jaccard, MinHash-LSH candidate
    * generation + exact verification.
    *
    * With bands=32, rows=2 the probability of missing a pair at
    * jaccard >= 0.7 is (1 - 0.7²)^32 ≈ 4e-10 — effectively exact above
    * the threshold, while candidates stay near-linear in corpus size.
    * Returns (id_a, id_b, jaccard >= threshold).
    */
  def minhashJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, threshold: Double = 0.7,
                          bands: Int = 32, rows: Int = 2,
                          materialize: Boolean = true,
                          maxBucket: Int = DefaultMaxBucket,
                          estHashes: Int = DefaultEstHashes): DataFrame = {
    jaccardPairsFromShingles(
      spreadCompute(df, idCol).select(col(idCol), shingles(col(textCol), shingleN).as("sh")),
      idCol, threshold, bands, rows, materialize = materialize,
      maxBucket = maxBucket, estHashes = estHashes)
  }

  /** Materialize `result` eagerly (lineage truncated to the checkpoint
    * blocks) so the persisted intermediates it reads can be released
    * before returning — callers get a self-contained DataFrame and the
    * session cache stays clean across repeated library calls. The
    * truncation strategy (executor-local vs reliable stable-storage)
    * comes from [[Checkpointing]]; local blocks are reclaimed by the
    * ContextCleaner once the returned frame is garbage-collected. */
  private[ops] def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = Checkpointing.truncate(result)
    cached.foreach(_.unpersist())
    out
  }

  /** Shared LSH pipeline: signatures → band buckets → candidate pairs →
    * signature-estimate prefilter → exact Jaccard verification.
    *
    * Scale notes: only `sigs` (numHashes longs per doc) is persisted —
    * O(corpus) but tiny per row, exactly a production signature table.
    * The full shingle ARRAYS are never materialized corpus-wide: the
    * signature stage consumes them in one streaming explode, and the
    * exact-verification stage rebuilds them only for the (near-linear)
    * set of docs that survive the prefilter. The prefilter drops
    * candidates whose signature-estimated Jaccard is more than 6σ below
    * the threshold (miss probability < 1e-9 for a true pair), so the
    * expensive exact set intersection runs only on near-threshold pairs.
    * With `materialize = false` the whole pipeline stays lazy (full plan
    * visible to explain/compose; intermediates recomputed per action —
    * use for plan inspection, not production runs). */
  private def jaccardPairsFromShingles(base0: DataFrame, idCol: String,
                                       threshold: Double, bands: Int,
                                       rows: Int,
                                       sigsOverride: Option[DataFrame] = None,
                                       materialize: Boolean = true,
                                       maxBucket: Int = DefaultMaxBucket,
                                       estHashes: Int = DefaultEstHashes): DataFrame = {
    // first bands×rows lanes drive the buckets; ALL lanes drive the
    // prefilter estimate (a sigsOverride must be built with this length)
    val numHashes = math.max(bands * rows, estHashes)
    val sigs = sigsOverride
      .getOrElse(minhashSignatures(base0, idCol, col("sh"), numHashes))
    // prefilter: fraction of matching signature entries ≈ jaccard,
    // evaluated BUCKET-LOCALLY. The byte-PACKED signature (see
    // [[PackSigBytes]]: 8× smaller than the long form, lane agreement
    // preserved, byte collisions only ever raise the estimate — the 6σ
    // recall floor is untouched) is a fixed-width ~estHashes-byte
    // payload, so it rides the ONE bucket exchange inside the grouped
    // member list and the estimate filters candidates BEFORE the
    // cross-band distinct (bucketedSelfPairsScored). The previous
    // join-back formulation shuffled the signature once per CANDIDATE
    // side — measured at x100/q42: 96M candidates × 2 × 192 B ≈ 37 GB
    // through two sort-merge joins plus a 96M-pair distinct, vs
    // 500k docs × 16 bands × 192 B ≈ 1.5 GB through the bucket
    // exchange here (and the distinct shrinks to the ~25k survivors).
    val bucketRows = sigs.select(col(idCol),
      posexplode(lshBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")),
      graft.functions.VectorFunctions.packSigBytes(col("sig")).as("sigb"))
    val sixSigma = 6.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val prefiltered = bucketedSelfPairsScored(
        bucketRows, idCol, "sigb", Seq("band", "bucket"), maxBucket,
        score = (a, b) => graft.functions.VectorFunctions
          .byteMatchCount(a, b).cast("double") / numHashes,
        keep = _ >= threshold - sixSigma)
      .select("id_a", "id_b")
    val prefilteredM = if (materialize) prefiltered.persist() else prefiltered
    // shingle arrays ONLY for docs that appear in a surviving candidate,
    // materialized once (the id_a and id_b joins both read it); no
    // distinct — left_semi dedups its build side inherently.
    // Grams are hashed to 64-bit longs at this boundary: |A∩B|/|A∪B|
    // over xxhash64 images equals the string-gram Jaccard unless two
    // distinct grams of one candidate pair collide (≤ |A∪B|²/2⁶⁴ ≈
    // 1e-13 per pair — the same negligible-collision contract the
    // MinHash signature stage already lives on), while the verify
    // arrays shrink ~10× (8 B/gram vs ~40+ B/gram of String heap) and
    // array_intersect compares longs instead of strings
    val candIds = prefilteredM.select(col("id_a").as(idCol))
      .union(prefilteredM.select(col("id_b").as(idCol)))
    val shCand0 = base0.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), transform(col("sh"), g => xxhash64(g)).as("sh"))
    val shCand = if (materialize) shCand0.persist() else shCand0
    val verified = prefilteredM
      .join(shCand.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shCand.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    if (materialize) materializeAndRelease(verified, prefilteredM, shCand)
    else verified
  }

  /** Cross-corpus near-duplicate pairs: documents in `a` whose
    * word-shingle Jaccard against some document in `b` meets the
    * threshold — the incremental-dedup shape (dedup a NEW crawl against
    * the EXISTING corpus without re-mining the old corpus against
    * itself). Same LSH machinery as [[minhashJaccardPairs]], but the
    * bucket join is a↔b only (no self-join triangle) and both sides
    * keep their own ids. Returns (id_a, id_b, jaccard). */
  def crossCorpusJaccardPairs(a: DataFrame, b: DataFrame, idCol: String,
                              textCol: String, shingleN: Int = 3,
                              threshold: Double = 0.7, bands: Int = 32,
                              rows: Int = 2,
                              materialize: Boolean = true,
                              maxBucket: Int = DefaultMaxBucket,
                              estHashes: Int = DefaultEstHashes): DataFrame = {
    val numHashes = math.max(bands * rows, estHashes)
    def prep(df: DataFrame) =
      spreadCompute(df, idCol).select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    // byte-packed signature as the bucket-row payload: the estimate
    // evaluates bucket-locally and filters before the cross-band
    // distinct (see jaccardPairsFromShingles for the shuffle
    // accounting); each side capped independently inside the grouped
    // pass — a bucket of A·B candidate pairs is bounded once either
    // factor is
    def side(base: DataFrame, tag: String) =
      minhashSignatures(base, idCol, col("sh"), numHashes)
        .select(col(idCol).as(s"id_$tag"),
          posexplode(lshBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")),
          graft.functions.VectorFunctions.packSigBytes(col("sig")).as("p"))
    val (baseA, baseB) = (prep(a), prep(b))
    val sixSigma = 6.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val prefiltered = bucketedCrossPairsScored(
        side(baseA, "a"), side(baseB, "b"), Seq("band", "bucket"), maxBucket,
        score = (pa, pb) => graft.functions.VectorFunctions
          .byteMatchCount(pa, pb).cast("double") / numHashes,
        keep = _ >= threshold - sixSigma)
      .select("id_a", "id_b")
    // hashed-gram verification — same contract as the self-join miner
    // (see jaccardPairsFromShingles): bit-equal Jaccard absent 2⁻⁶⁴
    // collisions, 8 B/gram arrays, integer compares
    val verified = prefiltered
      .join(baseA.select(col(idCol).as("id_a"),
        transform(col("sh"), g => xxhash64(g)).as("sh_a")), Seq("id_a"))
      .join(baseB.select(col(idCol).as("id_b"),
        transform(col("sh"), g => xxhash64(g)).as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    if (materialize) materializeAndRelease(verified) else verified
  }

  /** 64-bit SimHash over whitespace tokens. Pure column expressions: the
    * per-bit weighted vote is unrolled over 64 when/otherwise sums —
    * verbose but codegen-friendly (no UDF boxing on the 100 TB path). */
  def simhash64(textCol: Column): Column = {
    // hash every token exactly once, then take 64 per-bit votes over the
    // precomputed hash array (arithmetic only — no re-hashing per bit)
    val hs = transform(tokens(textCol), t => xxhash64(t))
    (0 until 64).map { bit =>
      val votes = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Portable 64-bit token hash built from the two 32-bit halves of the
    * md5 hex digest — bit-for-bit reproducible in any engine with `md5`
    * (each half parses 8 hex chars, so no engine-side 64-bit shift
    * overflow; the halves recombine to Java's wrapping `hi<<32 | lo`).
    * The differential-testing twin of the default engine-internal
    * xxhash64 token hash: pass as `tokenHash` to [[simhashes]] /
    * [[simhashPairs]] when the output must be recomputable verbatim by
    * an external oracle (same role as the md5 membership thresholds in
    * [[Sampling.deterministicSplit]]). */
  def portableHash64(c: Column): Column =
    shiftleft(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(c), 9, 8), 16, 10).cast("long"))

  /** SimHash table as a pure per-row map (mirrors [[minhashSignatures]]):
    * the token array is row-local, so the 64-bit fingerprint folds inside
    * ONE [[graft.functions.SimHashRow]] expression — no explode, no
    * aggregation, no shuffle. (The explode + SimHashAgg aggregate form
    * remains for pre-exploded token streams; bit-identical output.)
    * `tokenHash` swaps the engine-internal xxhash64 for a caller-chosen
    * per-token hash (see [[portableHash64]]); the fold is unchanged.
    * Returns (idCol, sim: bigint). */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
                tokenHash: Option[Column => Column] = None): DataFrame = {
    val toks = tokens(col(textCol))
    val in = tokenHash.fold(toks)(h => transform(toks, h))
    df.select(col(idCol), graft.functions.SimHashAgg.simRow(in).as("sim"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance <= maxDist, using
    * 4×16-bit band exact-match candidates (guaranteed recall for
    * maxDist <= 3 by pigeonhole) + exact popcount verification. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, materialize: Boolean = true,
                   maxBucket: Int = DefaultMaxBucket,
                   tokenHash: Option[Column => Column] = None): DataFrame = {
    // the fingerprint IS the verification payload (one long), so it
    // rides the band rows into the grouped enumeration and hamming
    // evaluates bucket-locally before the cross-band distinct
    // ([[bucketedSelfPairsScored]]) — no fingerprint re-join, no
    // persist: the banded stream is the signature stage's one consumer
    val banded = simhashes(spreadCompute(df, idCol), idCol, textCol, tokenHash)
      .withColumn("band", explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col("sim"), b * 16).bitwiseAND(0xFFFFL).as("bucket"))): _*)))
      .select(col(idCol), col("sim"), col("band.band_id"), col("band.bucket"))
    val verified = bucketedSelfPairsScored(banded, idCol, "sim",
        Seq("band_id", "bucket"), maxBucket,
        (a, b) => bit_count(a.bitwiseXOR(b)),
        _ <= maxDist)
      .select(col("id_a"), col("id_b"), col("score").as("hamming"))
    if (materialize) materializeAndRelease(verified) else verified
  }

  /** Character n-gram Jaccard pairs (candidate generation shared with
    * MinHash-LSH over char shingles). Char n-grams share many grams
    * across unrelated docs, so the bands are deeper (rows=3) than the
    * word-shingle variant: candidate selectivity per unrelated pair stays
    * ~(16·j³) while recall at the j=0.7 threshold is 1-(1-0.7³)^16 ≈
    * 99.9% (≥ 0.8 → ~1-1e-5), tight enough to match the exact-Jaccard
    * oracle. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, threshold: Double = 0.7,
                        materialize: Boolean = true,
                        maxBucket: Int = DefaultMaxBucket,
                        estHashes: Int = DefaultEstHashes): DataFrame = {
    val docs = spreadCompute(df, idCol)
    // signatures hash the sliding grams straight off the text
    // (MinHashSigChars — no gram-array materialization); the shingle
    // ARRAYS are still what exact verification intersects, and the
    // semi-join pushdown means they are built only for prefilter
    // survivors (see jaccardPairsFromShingles)
    val sigs = docs.select(col(idCol),
      graft.functions.MinHashSig.sigCharsRow(col(textCol), n,
        math.max(16 * 3, estHashes)).as("sig"))
    jaccardPairsFromShingles(
      docs.select(col(idCol), charShingles(col(textCol), n).as("sh")),
      idCol, threshold, bands = 16, rows = 3, sigsOverride = Some(sigs),
      materialize = materialize, maxBucket = maxBucket, estHashes = estHashes)
  }

  /** Persist the MinHash-LSH index of a corpus — the incremental-dedup
    * deployment shape: signature and band-bucket tables are written
    * ONCE, and every subsequent crawl probes them via
    * [[crossCorpusJaccardPairsFromIndex]] without recomputing anything
    * over the existing corpus (at 100 TB, re-signaturing the archive
    * per crawl is the dominant cost this index removes).
    *
    *  - `sigTable`: (idCol, sig) bucketed+sorted by id — the prefilter
    *    joins candidate ids against it without shuffling the index.
    *  - `bucketTable`: (idCol, band, bucket) bucketed by (band, bucket)
    *    — the candidate join reads it pre-partitioned on its join key,
    *    so only the (small) new-crawl side shuffles.
    *
    * `maxBucket` is applied at WRITE time: degenerate buckets never
    * enter the index (same recall trade as the online miners, decided
    * once instead of per probe — probing never scans the index to
    * count bucket sizes). */
  def writeSignatureIndex(docs: DataFrame, idCol: String, textCol: String,
                          bucketTable: String, sigTable: String,
                          shingleN: Int = 3, bands: Int = 32, rows: Int = 2,
                          numBuckets: Int = 32,
                          maxBucket: Int = DefaultMaxBucket,
                          estHashes: Int = DefaultEstHashes): Unit = {
    val spark = docs.sparkSession
    val base = spreadCompute(docs, idCol)
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    Bucketing.writeBucketedBy(
      minhashSignatures(base, idCol, col("sh"), math.max(bands * rows, estHashes)),
      sigTable, numBuckets, Seq(idCol), Seq(idCol))
    // signatures re-read from the table (not recomputed) to derive the
    // bucket rows; the write-time cap keeps probe plans scan-free
    val buckets = capBuckets(
      spark.table(sigTable).select(col(idCol),
        posexplode(lshBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucket)
    Bucketing.writeBucketedBy(buckets, bucketTable, numBuckets,
      Seq("band", "bucket"), Seq("band", "bucket"))
  }

  /** Absorb a new crawl into a [[writeSignatureIndex]]-persisted index
    * WITHOUT touching the archive's rows — the missing piece of the
    * incremental-dedup loop: each crawl first probes the index
    * ([[crossCorpusJaccardPairsFromIndex]]), then appends its own
    * signature and bucket rows so the NEXT crawl dedups against it too.
    * The append computes signatures over the new crawl only (the
    * archive is never re-read, let alone re-signatured) and writes them
    * into the existing bucketed tables with the same bucket spec —
    * Spark hashes the appended rows into per-bucket files, so probe
    * plans stay exchange-free on the index side over old + new data.
    *
    * Contracts carried over from the index build:
    *  - `bands`/`rows`/`shingleN`/`numBuckets`/`estHashes` must equal
    *    the values the index was written with (the bucket spec is
    *    validated by Spark; a signature-geometry mismatch fails loudly
    *    at estimate time — [[graft.functions.ByteMatchCount]] throws on
    *    unequal lane counts rather than silently dropping every pair).
    *  - ids must be unique ACROSS crawls (same contract as the
    *    cross-corpus miners).
    *  - `maxBucket` caps each appended batch on its own: a bucket can
    *    grow to (number of appends) × maxBucket across crawls. A
    *    boilerplate-shaped key that keeps filling up across crawls is
    *    a compaction signal — rebuild with [[writeSignatureIndex]] to
    *    re-cap globally (the same periodic-rebuild policy any
    *    LSM-shaped index needs). */
  def appendToSignatureIndex(newDocs: DataFrame, idCol: String, textCol: String,
                             bucketTable: String, sigTable: String,
                             shingleN: Int = 3, bands: Int = 32, rows: Int = 2,
                             numBuckets: Int = 32,
                             maxBucket: Int = DefaultMaxBucket,
                             estHashes: Int = DefaultEstHashes): Unit = {
    val base = spreadCompute(newDocs, idCol)
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    // crawl-sized, read by both appends — persist instead of re-signaturing
    val sigs = minhashSignatures(base, idCol, col("sh"),
      math.max(bands * rows, estHashes)).persist()
    try appendSigsToIndex(sigs, idCol, bucketTable, sigTable, bands, rows,
      numBuckets, maxBucket)
    finally { sigs.unpersist(); () }
  }

  /** [[appendToSignatureIndex]] over ALREADY-COMPUTED signatures — the
    * path for callers that hold the wave's materialized signature frame
    * (advanceSimilarityGraph signatures each wave exactly once and
    * feeds probe, intra-mining and this append from the same frame). */
  private[ops] def appendSigsToIndex(sigs: DataFrame, idCol: String,
                                     bucketTable: String, sigTable: String,
                                     bands: Int, rows: Int, numBuckets: Int,
                                     maxBucket: Int): Unit = {
    // ORDERED, sigs first (ADVICE r15 — reverting the round-15
    // concurrent overlap): the probe path inner-joins bucket ids
    // against sigTable, so a crash window where the bucket append
    // committed but the sig append failed would leave buckets whose
    // candidates silently drop from every later probe. Sig rows
    // without bucket rows (the failure window of THIS order) are
    // inert — never probed, absorbed by the next append or rebuild.
    // The overlap was worth ~0.2 s/wave locally; the invariant wins.
    Bucketing.appendBucketedBy(sigs, sigTable, numBuckets,
      Seq(idCol), Seq(idCol))
    val buckets = capBuckets(
      sigs.select(col(idCol),
        posexplode(lshBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucket)
    Bucketing.appendBucketedBy(buckets, bucketTable, numBuckets,
      Seq("band", "bucket"), Seq("band", "bucket"))
  }

  /** Diff-driven index maintenance — [[corpusDiff]] composed into
    * [[appendToSignatureIndex]]: given the snapshot the index was
    * built from and the current snapshot, append ONLY the ADDED
    * documents' signature/bucket rows and return the drift report
    * `(status, n_docs)` for added / changed / removed.
    *
    * Why only added: the index tables are append-only bucketed
    * parquet — a changed or removed document's OLD rows cannot be
    * retracted without a rewrite, so appending a changed doc's new
    * signature would leave BOTH versions probing. Changed/removed
    * rows are therefore NOT absorbed; their counts in the report are
    * the rebuild signal. The deployment loop this encodes:
    * sync per snapshot (cheap — signatures over the added slice only,
    * both sides of the diff reduced to digests), watch
    * (changed + removed) / index size, rebuild with
    * [[writeSignatureIndex]] when the stale fraction passes the
    * policy bound — the same compaction contract as the maxBucket
    * note on [[appendToSignatureIndex]]. Under add-only drift the
    * synced index is row-identical to a fresh rebuild
    * (SignatureIndexSpec proves probe equivalence).
    *
    * Geometry params must equal the index's build values (the
    * [[appendToSignatureIndex]] contract). Returns the drift report;
    * statuses with zero rows are absent (the [[corpusDiff]] shape). */
  def syncSignatureIndex(oldDocs: DataFrame, newDocs: DataFrame,
                         idCol: String, textCol: String,
                         bucketTable: String, sigTable: String,
                         shingleN: Int = 3, bands: Int = 32, rows: Int = 2,
                         numBuckets: Int = 32,
                         maxBucket: Int = DefaultMaxBucket,
                         estHashes: Int = DefaultEstHashes): DataFrame = {
    // materialized once: the added-slice semi-join AND the report read
    // it; local mode = executor-storage truncate, reliable mode = one
    // stable copy released by the caller's session lifecycle
    val diff = Checkpointing.truncate(
      corpusDiff(oldDocs, newDocs, idCol, textCol))
    val addedIds = diff.where(col("status") === "added").select(col(idCol))
    val added = newDocs.join(addedIds, Seq(idCol), "left_semi")
    if (!added.isEmpty) {
      appendToSignatureIndex(added, idCol, textCol, bucketTable, sigTable,
        shingleN, bands, rows, numBuckets, maxBucket, estHashes)
    }
    diff.groupBy("status").agg(count(lit(1)).as("n_docs"))
  }

  /** Near-duplicate pairs between a NEW corpus and a
    * [[writeSignatureIndex]]-persisted one. Same semantics as
    * [[crossCorpusJaccardPairs]] (given the same cap), but the existing
    * corpus contributes only bucketed table READS:
    *
    *  - candidate join on (band, bucket): the index side is
    *    pre-bucketed on the join key, so it takes NO exchange — only
    *    the new-crawl buckets shuffle (or broadcast);
    *  - signature prefilter: candidate ids join the id-bucketed
    *    `sigTable`, again exchange-free on the index side;
    *  - exact verification re-derives shingle arrays from
    *    `existingDocs` ONLY for prefilter survivors (semi-join
    *    pushdown, hashed-gram arrays — same contract as the online
    *    miners).
    *
    * `existingDocs` supplies the raw text for that last stage — the
    * same frame the index was built from. */
  def crossCorpusJaccardPairsFromIndex(spark: SparkSession,
                                       bucketTable: String, sigTable: String,
                                       newDocs: DataFrame,
                                       existingDocs: DataFrame,
                                       idCol: String, textCol: String,
                                       shingleN: Int = 3,
                                       threshold: Double = 0.7,
                                       bands: Int = 32, rows: Int = 2,
                                       materialize: Boolean = true,
                                       maxBucket: Int = DefaultMaxBucket,
                                       estHashes: Int = DefaultEstHashes,
                                       sigsOverride: Option[DataFrame] = None): DataFrame = {
    // must equal the estHashes the index was written with (same
    // geometry contract as bands/rows — see appendToSignatureIndex)
    val numHashes = math.max(bands * rows, estHashes)
    val baseA = spreadCompute(newDocs, idCol)
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    // sigsOverride (round-15): a caller that already holds the wave's
    // materialized signatures (advanceSimilarityGraph computes them
    // ONCE per wave for probe + intra-mining + index append) passes
    // them here instead of paying a second full signature pass; must
    // be (idCol, sig) with the same numHashes geometry
    val sigsA0 = sigsOverride
      .getOrElse(minhashSignatures(baseA, idCol, col("sh"), numHashes))
    val sigsA =
      if (materialize && sigsOverride.isEmpty) sigsA0.persist() else sigsA0
    val bucketsA = capBuckets(
      sigsA.select(col(idCol).as("id_a"),
        posexplode(lshBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucket)
    val candidates = bucketsA
      .join(spark.table(bucketTable)
          .select(col(idCol).as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    val sixSigma = 6.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    // estimator over byte-packed signatures (the index stores the long
    // form; packing is a per-row projection on the bucketed scan — no
    // exchange added, and the per-candidate join payload shrinks 8×)
    val est = graft.functions.VectorFunctions
      .byteMatchCount(col("sigb_a"), col("sigb_b")).cast("double") / numHashes
    val prefiltered0 = candidates
      .join(sigsA.select(col(idCol).as("id_a"),
        graft.functions.VectorFunctions.packSigBytes(col("sig")).as("sigb_a")), Seq("id_a"))
      .join(spark.table(sigTable)
          .select(col(idCol).as("id_b"),
            graft.functions.VectorFunctions.packSigBytes(col("sig")).as("sigb_b")), Seq("id_b"))
      .where(est >= threshold - sixSigma)
      .select("id_a", "id_b")
    val prefiltered = if (materialize) prefiltered0.persist() else prefiltered0
    // b-side shingles only for surviving candidates (the index variant
    // improves on crossCorpusJaccardPairs here: the archive's shingles
    // are rebuilt for the near-linear survivor set, never corpus-wide)
    val shB = existingDocs
      .join(prefiltered.select(col("id_b").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("id_b"),
        transform(shingles(col(textCol), shingleN), g => xxhash64(g)).as("sh_b"))
    // a-side shingles get the same survivor semi-join pushdown
    // (round-15): the verify join filters to prefiltered pairs anyway,
    // so re-shingling only the candidate slice of the wave is
    // result-identical and skips the non-candidate majority
    val shA = baseA
      .join(prefiltered.select(col("id_a").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("id_a"),
        transform(col("sh"), g => xxhash64(g)).as("sh_a"))
    val verified = prefiltered
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    if (materialize)
      materializeAndRelease(verified,
        (if (sigsOverride.isEmpty) Seq(sigsA) else Nil) :+ prefiltered: _*)
    else verified
  }

  /** Connected components over an undirected near-duplicate edge list
    * (id_a, id_b) — the step that turns pairwise dup mining into "keep
    * one representative per cluster" in a training-data pipeline.
    * Returns (id, cluster) where cluster = min id reachable from id;
    * only ids that appear in at least one pair are emitted (singletons
    * are trivially their own representative).
    *
    * Scale design: hash-min label propagation. Every round each node
    * adopts the min label among itself and its neighbors; rounds needed
    * = graph diameter (dup clusters from LSH mining are near-cliques, so
    * 2-3 rounds in practice). Each round is one equi-join + one groupBy
    * — both shuffle on node id only, carrying two longs per node; the
    * documents themselves never move. Lineage is truncated per round
    * (strategy from [[Checkpointing]]: executor-local by default,
    * reliable stable-storage for cluster runs — an hour-long CC job
    * should survive executor loss) so deep graphs don't blow up the
    * planner.
    *
    * Convergence is detected INSIDE the round's own aggregate: each
    * node's previous label rides through the min-groupBy as a second
    * aggregate (`min(own label)` — exactly one "own" row per id), so
    * "did anything change" is a per-row `new < old` flag on the already
    * materialized round output. The check is a filter scan over the
    * round's checkpoint blocks — no extra join against the previous
    * label table, no second shuffle per round (the old labels⋈prev
    * formulation paid both). Works for any orderable id type (string
    * or UUID ids included — a numeric-sum check would not), because
    * labels only decrease under min, so "no row changed" ⇔ fixpoint. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .persist()
    // schema throughout the loop: (id, cluster, __changed)
    var labels = Checkpointing.truncate(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster"), lit(true).as("__changed")))
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val prev = labels
      val own = labels.select(col("id"), col("cluster"), lit(true).as("own"))
      val viaNbr = edges
        .join(labels.select(col("id").as("dst"), col("cluster")), Seq("dst"))
        .select(col("src").as("id"), col("cluster"), lit(false).as("own"))
      labels = Checkpointing.truncate(
        own.union(viaNbr)
          .groupBy("id")
          .agg(min("cluster").as("cluster"),
            min(when(col("own"), col("cluster"))).as("__old"))
          .select(col("id"), col("cluster"),
            (col("cluster") < col("__old")).as("__changed")))
      // the check reads the just-materialized checkpoint blocks — a
      // short-circuiting filter scan, not a job-sized recompute
      done = labels.where(col("__changed")).isEmpty
      // rotate: the superseded round's checkpoint files are dead once
      // the new labels are materialized
      Checkpointing.release(prev)
      iter += 1
    }
    edges.unpersist()
    labels.select("id", "cluster")
  }

  /** Advance a persisted connected-components LABEL TABLE with a batch
    * of NEW pairs — the cluster-state analog of the q138 signature
    * index sync: a daily dedup crawl must not re-run CC over the
    * historical edge set to absorb today's mined pairs. Correctness
    * rests on the min-id labeling being CANONICAL: contracting each
    * existing cluster to a star around its label (which IS a member —
    * the cluster's min id) preserves both connectivity and the min,
    * so re-running CC over {new pairs} ∪ {member→label stars of the
    * TOUCHED clusters only} yields exactly the labels a from-scratch
    * CC over all edges ever mined would — untouched clusters keep
    * their rows verbatim (the q203 oracle checks the equality to the
    * hash).
    *
    * Scale: the delta's node set is batch-sized; the touched-members
    * semi-join shuffles the state table once (id-keyed); the CC rerun
    * sees touched-clusters + delta edges only. The advance goes
    * through [[Incremental.transformStateTable]]'s crash-safe
    * stage-and-swap. */
  def advanceCCStateTable(spark: org.apache.spark.sql.SparkSession,
                          stateTable: String, newPairs: DataFrame,
                          idA: String = "id_a", idB: String = "id_b",
                          maxIter: Int = 50): Unit = {
    // the delta is read twice (touched set + subgraph edges) and its
    // lineage may be a full mining pipeline — materialize once
    val delta = Checkpointing.truncate(
      newPairs.select(col(idA).as("id_a"), col(idB).as("id_b")))
    Incremental.transformStateTable(spark, stateTable) { state =>
      val touched = delta.select(col("id_a").as("id"))
        .union(delta.select(col("id_b").as("id"))).distinct()
      val touchedLabels = state.join(touched, Seq("id"))
        .select("cluster").distinct()
      val members = state.join(touchedLabels, Seq("cluster"))
      val subEdges = delta.unionByName(
        members.select(col("id").as("id_a"), col("cluster").as("id_b")))
      val relabeled = connectedComponents(subEdges, maxIter = maxIter)
      state.join(members.select("id"), Seq("id"), "left_anti")
        .unionByName(relabeled)
    }
  }

  /** Create the INCREMENTAL near-duplicate similarity graph at wave 0
    * (round-14 verdict #4 — the production dedup-at-scale loop):
    * near-dup pairs are EDGES, and the maintained CC label table is
    * the graph view a growing corpus keeps current. This builds the
    * signature index ([[writeSignatureIndex]] — the LAST time the
    * archive is signatured), mines the founding wave's intra pairs
    * bucket-locally ([[minhashJaccardPairs]] — never all-pairs), and
    * persists their CC labels; every later crawl goes through
    * [[advanceSimilarityGraph]] without re-reading history. */
  def initSimilarityGraph(spark: org.apache.spark.sql.SparkSession,
                          docs: DataFrame, idCol: String, textCol: String,
                          bucketTable: String, sigTable: String,
                          ccStateTable: String,
                          shingleN: Int = 3, threshold: Double = 0.7,
                          bands: Int = 32, rows: Int = 2,
                          numBuckets: Int = 32): Unit = {
    Tables.dropTablesAndDirs(spark, bucketTable, sigTable, ccStateTable,
      s"${ccStateTable}__next", s"${ccStateTable}__old")
    PhaseTimer.time("initidx") {
      writeSignatureIndex(docs, idCol, textCol, bucketTable, sigTable,
        shingleN, bands, rows, numBuckets)
    }
    // intra-mine wave 0 from the JUST-WRITTEN signature table instead
    // of re-signaturing it (round-15): the index write was the wave's
    // one full signature pass; the miner re-derives band buckets from
    // the stored sigs (deterministic → bit-identical pairs) and
    // rebuilds shingle arrays only for prefilter survivors
    val base0 = spreadCompute(docs, idCol)
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    val pairs0 = PhaseTimer.time("initmine") {
      jaccardPairsFromShingles(base0, idCol, threshold, bands, rows,
        sigsOverride = Some(spark.table(sigTable)))
    }
    PhaseTimer.time("initcc") {
      connectedComponents(pairs0).write.saveAsTable(ccStateTable)
    }
  }

  /** One crawl-wave advance of the [[initSimilarityGraph]] state — the
    * loop a 100 TB corpus runs per crawl, composed entirely from the
    * proven incremental pieces: (1) the new docs probe the persisted
    * signature index for CROSS-corpus pairs
    * ([[crossCorpusJaccardPairsFromIndex]] — index side exchange-free,
    * the archive never re-signatured), (2) INTRA-wave pairs mine
    * bucket-locally over the wave alone, (3) the union advances the CC
    * label state ([[advanceCCStateTable]] — touched clusters only,
    * crash-safe stage-and-swap), (4) the wave's signatures APPEND to
    * the index so the next crawl dedups against it too
    * ([[appendToSignatureIndex]]).
    *
    * Because a doc's band buckets depend only on its own text, the
    * per-wave intra + cross enumerations find exactly the pair set the
    * batch miner finds over the full corpus (same geometry, same exact
    * verification) — so the maintained labels equal a from-scratch
    * batch CC over all pairs ever minable, which is the q239 oracle's
    * hash equality. `existingDocs` supplies raw text for the
    * cross-pair verification stage only (prefilter survivors,
    * semi-join pushdown — the index contract). */
  def advanceSimilarityGraph(spark: org.apache.spark.sql.SparkSession,
                             newDocs: DataFrame, existingDocs: DataFrame,
                             idCol: String, textCol: String,
                             bucketTable: String, sigTable: String,
                             ccStateTable: String,
                             shingleN: Int = 3, threshold: Double = 0.7,
                             bands: Int = 32, rows: Int = 2,
                             numBuckets: Int = 32): Unit = {
    // ONE full signature pass per wave (round-15 — the §1.2 "don't
    // recompute" rule): probe, intra-mining and the index append all
    // consume the same materialized (idCol, sig) frame; the previous
    // shape signatured the wave three times (once inside each call).
    // Signatures are a deterministic function of the text, so every
    // downstream pair set — and the maintained labels — is
    // bit-identical.
    val base = spreadCompute(newDocs, idCol)
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    val sigs = PhaseTimer.time("sig") { Checkpointing.truncate(
      minhashSignatures(base, idCol, col("sh"),
        math.max(bands * rows, DefaultEstHashes))) }
    val cross = PhaseTimer.time("cross") {
      crossCorpusJaccardPairsFromIndex(spark, bucketTable,
        sigTable, newDocs, existingDocs, idCol, textCol, shingleN,
        threshold, bands, rows, sigsOverride = Some(sigs))
    }
    val intra = PhaseTimer.time("intra") {
      jaccardPairsFromShingles(base, idCol, threshold,
        bands, rows, sigsOverride = Some(sigs))
    }
    PhaseTimer.time("cc") {
      advanceCCStateTable(spark, ccStateTable,
        cross.select(col("id_a"), col("id_b"))
          .unionByName(intra.select(col("id_a"), col("id_b"))))
    }
    PhaseTimer.time("append") {
      appendSigsToIndex(sigs, idCol, bucketTable, sigTable, bands, rows,
        numBuckets, DefaultMaxBucket)
    }
  }

  /** Materialize a near-dup-deduplicated corpus: keep exactly one
    * representative (the min id, via [[connectedComponents]]) per mined
    * duplicate cluster, plus every unpaired document. The drop set is
    * near-dup-cluster-sized (tiny next to the corpus in the common
    * case), so the final filter is a broadcast anti-join and the corpus
    * never shuffles — but the hint is SIZE-AWARE ([[maybeBroadcast]] /
    * [[MaxBroadcastIdsKey]]): above the conf limit the forced broadcast
    * is dropped and a shuffle anti-join runs instead of a driver OOM. */
  def keepRepresentatives(docs: DataFrame, idCol: String, pairs: DataFrame,
                          idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, idA, idB)
    val drop = labels
      .where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    // labels is checkpoint-truncated CC output: the count is a block
    // scan, and it upper-bounds the drop set (drop = labels minus reps)
    docs.join(maybeBroadcast(drop, labels.count()), Seq(idCol), "left_anti")
  }

  /** [[keepRepresentatives]] with a QUALITY keep policy: within each
    * near-dup cluster keep the highest-`scoreCol` member (ties to the
    * smaller id) instead of the smallest id — the canonical copy of a
    * duplicate group should be its BEST member, not the numerically
    * first one crawled (duplicates routinely differ in boilerplate,
    * truncation, or encoding damage, which is exactly what a quality
    * score measures). Docs in no cluster always survive.
    *
    * Scale posture = [[keepRepresentatives]]: the CC label table is
    * duplicate-sized and checkpoint-truncated; only (id, score) pairs
    * join it (text never moves); the per-cluster argmax is one
    * struct-min aggregate over the clustered subset; the drop set
    * rides the size-gated anti-join. */
  def keepBestRepresentatives(docs: DataFrame, idCol: String, scoreCol: String,
                              pairs: DataFrame,
                              idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, idA, idB)
    val nLab = labels.count()
    val scored = docs.select(col(idCol), col(scoreCol))
      .join(maybeBroadcast(labels.select(col("id").as(idCol), col("cluster")), nLab),
        Seq(idCol))
    // argmax(score), ties to the smaller id: min over (−score, id)
    // structs — lexicographic, exact double negation
    val bestIds = scored.groupBy(col("cluster"))
      .agg(min(struct(negate(col(scoreCol)).as("ns"), col(idCol).as("i")))
        .getField("i").as(idCol))
    val drop = labels.select(col("id").as(idCol))
      .join(bestIds, Seq(idCol), "left_anti")
    docs.join(maybeBroadcast(drop, nLab), Seq(idCol), "left_anti")
  }

  /** Corpus-wide positional line dedup with document rewrite — the
    * C4-style "keep the FIRST occurrence" rule at line granularity:
    * a non-blank line is kept only where it first appears in the corpus
    * (ordered by (id, line position)); every later occurrence — in the
    * same document or any other — is removed from the rewritten text.
    * Blank lines are structure, not content: they are kept verbatim and
    * never participate in matching. Unlike
    * [[graft.ops.TextOps.removeBoilerplateLines]] (which drops ALL
    * copies of a frequent line), this keeps one canonical copy of
    * everything, so no content is lost — only repetition.
    *
    * Returns (idCol, clean_text, n_lines, n_dropped).
    *
    * Scale design: pass 1 shuffles only (id, pos, md5-digest) line
    * triples to find, per duplicated digest, the (id, pos) minimum and
    * the later occurrences — the DROP set, duplicate-instance-sized,
    * CHECKPOINT-TRUNCATED once mined (so the size probe below reads
    * materialized blocks and the rewrite join does not re-run the
    * mining). Pass 2 re-splits each document row-locally and filters
    * its line array against the document's own drop positions,
    * delivered by an id-keyed join against the per-document
    * drop-position arrays — size-gated broadcast
    * ([[MaxBroadcastIdsKey]]) below the conf limit (document text
    * never shuffles), plain shuffle join above it: in THAT fallback
    * the corpus, text included, shuffles once by id — the price of a
    * crawl-scale duplicate rate, instead of a driver OOM. */
  def dedupLinesGlobal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lineArr = split(col(textCol), "\n")
    val lines = docs
      .select(col(idCol), posexplode(lineArr).as(Seq("__pos", "__line")))
      .where(length(trim(col("__line"))) > 0)
      .select(col(idCol), col("__pos"), md5(col("__line")).as("__lh"))
    // per duplicated digest: the global first occurrence, then every
    // LATER (id, pos) instance becomes a drop row — digest-only shuffle
    val firsts = lines
      .groupBy("__lh")
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"),
        count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("__lh"), col("__first"))
    val dropPos = Checkpointing.truncate(lines
      .join(firsts, Seq("__lh"))
      .where(struct(col(idCol), col("__pos")) =!= col("__first"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__drop"), count(lit(1)).as("__nd")))
    // reads the just-materialized blocks — not a second mining pass
    val dropCount = dropPos.agg(coalesce(sum("__nd"), lit(0L))).head().getLong(0)
    docs
      .join(maybeBroadcast(dropPos.drop("__nd"), dropCount), Seq(idCol), "left")
      .select(col(idCol),
        filter(lineArr, (l, i) =>
          col("__drop").isNull || !array_contains(col("__drop"), i)).as("__kept"),
        size(lineArr).cast("long").as("n_lines"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_dropped"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        col("n_lines"), col("n_dropped"))
  }

  /** Embedding near-duplicate pairs, exact all-pairs cosine — the
    * |V|² variant for corpora small enough to broadcast one side.
    * Prefer [[embeddingCosinePairsLsh]] at scale.
    *
    * The broadcast is SIZE-GATED like every other small-side hint in
    * this module ([[maybeBroadcast]]): vectors are wide rows, so the
    * row count is scaled to id-row byte equivalents (dim·4/40) before
    * the gate — an over-limit corpus falls back to a hint-free cross
    * join (still |V|², but no silent driver OOM; at that size the LSH
    * path is the real answer). `expectedCount` skips the sizing count
    * when the caller knows the cardinality (same contract as
    * [[embeddingCosinePairsLsh]]); `dim` likewise skips the width scan
    * — when NOT supplied, the vector width is DERIVED from the data
    * (max over the corpus, null-safe), so a caller with wide vectors
    * cannot silently under-scale the byte gate. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double,
                           expectedCount: Long = -1L,
                           dim: Int = -1): DataFrame = {
    // one sizing pass resolves whichever of (count, width) the caller
    // didn't pin; both pinned → zero extra scans
    val (n, d) =
      if (expectedCount >= 0 && dim > 0) (expectedCount, dim.toLong)
      else {
        val r = df.agg(count(lit(1)).cast("long").as("__n"),
          coalesce(max(coalesce(size(col(vecCol)), lit(0))), lit(0)).cast("long").as("__d"))
          .head()
        (if (expectedCount >= 0) expectedCount else r.getLong(0),
          if (dim > 0) dim.toLong else r.getLong(1))
      }
    // wide-row gate: a dim-float vector row ≈ dim*4 bytes vs the ~40-byte
    // id rows the conf limit is calibrated for (round-8 review rule)
    val idRowEquiv = n * math.max(1L, d * 4L / 40L)
    val a = spreadCompute(df, idCol).select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(maybeBroadcast(b, idRowEquiv))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("vec_a"), col("vec_b")))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-duplicate pairs via sign-LSH candidate buckets +
    * exact cosine verification — the linear-candidates 100 TB path: the
    * shuffle carries (id, bucket) pairs, never the |V|² pair space. The
    * bucket space auto-sizes with the corpus ([[Similarity.autoBits]]):
    * at a dedup-grade threshold of 0.99 (angle ≈ 8°) each b-bit table
    * collides a true pair with prob (1 - θ/π)^b — 0.69 at b=8, 0.40 at
    * the 20-bit clamp — so 12 independent tables miss it with prob at
    * most (1 - 0.40)^12 ≈ 2e-3 and ≈ 2e-6 at small-corpus b=8 —
    * effectively exact, which is why the exact all-pairs oracle still
    * applies. */
  def embeddingCosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, dim: Int = 64,
                              maxBucket: Int = DefaultMaxBucket,
                              expectedCount: Long = -1L): DataFrame =
    // bits sized from the RAW input: counting after spreadCompute would
    // execute the repartition shuffle just to size the bucket space,
    // where a plain scan count comes from parquet footer metadata. On a
    // filtered/computed input even that count is a full job — callers
    // that know the size pass `expectedCount` (within-2× is enough;
    // bits only need the magnitude) and the sizing scan disappears.
    Similarity.lshCosinePairs(spreadCompute(df, idCol), idCol, vecCol,
      threshold,
      bits = Similarity.autoBits(
        if (expectedCount >= 0) expectedCount else df.count()),
      dim = dim, maxBucket = maxBucket)

  /** SemDeDup — semantic deduplication via embedding clustering (Abbas
    * et al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): partition the embedding
    * space into `nlist` cells by nearest seed centroid, mine cosine ≥
    * `tau` pairs ONLY within each cell, collapse pair clusters, keep the
    * min-id representative of each. Returns kept rows (idCol, cent_id).
    *
    * Scale design, piecewise: centroid assignment is the inlined-literal
    * argmax (one projection — no join, no shuffle; the model is
    * driver-resident and nlist-sized, the MLlib k-means shape). The
    * quadratic term is confined to one cell (SemDeDup's defining
    * approximation — cross-cell near-dups are invisible BY DESIGN,
    * that's what makes it linear-ish at corpus scale; pass `probes` > 1
    * to mine each row in its `probes` nearest cells, the standard
    * multi-probe mitigation — the final assignment stays top-1 and
    * [[bucketedSelfPairsScored]]'s distinct collapses a pair seen from
    * both cells), and pair scoring rides the one (cent_id) bucket
    * exchange via [[bucketedSelfPairsScored]]: vectors never ride a
    * second shuffle, the threshold filters before the distinct, and
    * `maxCluster` skips a degenerate cell the way LSH bucket caps do.
    * Note what the cap does and does not bound: an over-cap cell is
    * SKIPPED (no quadratic work), but the size filter runs AFTER
    * collect_list, so the aggregation still buffers up to `maxCluster`
    * (id, vector) structs in one row — size `nlist` so typical cells
    * sit well under the cap (the default 2^14 is ~16 MB of buffered
    * 256-dim floats and ~1.3e8 worst-case scored candidates in one
    * task; the old 2^20 default was an executor-OOM wall). The drop set
    * is duplicate-cluster-sized, so the final filter is a broadcast
    * anti-join — the corpus never shuffles for the dedup filter itself,
    * though the assignment projection (incl. spreadCompute's spreading
    * repartition) is evaluated twice: once feeding pair mining, once
    * under the final anti-join. Persist `corpus` upstream if its scan
    * is expensive.
    *
    * Representative choice: the default keeps the min-id member (the
    * engine-independent convention every other dedup operator here
    * uses — see [[keepRepresentatives]]); `keep = "diverse"` keeps the
    * member with the LOWEST cosine to its cluster centroid instead —
    * the paper-faithful, diversity-maximizing policy of Abbas et al.
    * §3. Both policies are deterministic and fully differentially
    * testable (the centroid cosine is the same double arithmetic an
    * external oracle recomputes; ties break toward the smaller id).
    *
    * Differential testing: the seed pick is [[Similarity.portableSeedCentroids]]
    * (md5-ordered — any engine reproduces the model), assignment
    * tie-breaks toward the smaller centroid id exactly like `row_number
    * OVER (ORDER BY cos DESC, cent_id ASC)`, and cosine is the same
    * double arithmetic as `list_cosine_similarity(DOUBLE[], DOUBLE[])`
    * — so the WHOLE pipeline (model → assignment → pairs → closure →
    * keep-one) is reproducible verbatim in SQL, no rows-only escape
    * hatch needed even though the operator is approximate vs all-pairs. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, tau: Double,
                    maxCluster: Int = 1 << 14,
                    probes: Int = 1,
                    keep: String = "minId"): DataFrame = {
    require(nlist >= 1, s"nlist must be positive, got $nlist")
    require(probes >= 1 && probes <= nlist,
      s"probes must be in [1, nlist=$nlist], got $probes")
    require(keep == "minId" || keep == "diverse",
      s"""keep must be "minId" or "diverse", got "$keep"""")
    val cents = Similarity.portableSeedCentroids(corpus, idCol, vecCol, nlist)
    val scored = spreadCompute(corpus, idCol)
      .withColumn("__nc", element_at(
        graft.functions.VectorFunctions.nearestCentroidsScored(col(vecCol), cents, 1), 1))
      .withColumn("cent_id", col("__nc.cid"))
      .withColumn("__ccos", col("__nc.cos"))
      .drop("__nc")
    val assigned = scored.drop("__ccos")
    // multi-probe: mine each row in its `probes` nearest cells so a
    // near-identical pair straddling a cell bisector is co-bucketed in
    // at least one of them; the OUTPUT assignment stays top-1
    val mined =
      if (probes == 1) assigned.select(col("cent_id"), col(idCol), col(vecCol))
      else spreadCompute(corpus, idCol).select(
        explode(Similarity.probedCellIds(col(vecCol), cents, probes)).as("cent_id"),
        col(idCol), col(vecCol))
    val pairs = bucketedSelfPairsScored(
      mined, idCol, vecCol, Seq("cent_id"), maxCluster,
      (a, b) => Similarity.cosine(a, b), s => s >= tau)
    if (keep == "minId")
      keepRepresentatives(assigned, idCol, pairs)
        .select(col(idCol), col("cent_id"))
    else {
      // the paper's policy (Abbas et al. §3): keep the duplicate-group
      // member with the LOWEST cosine to its cluster centroid — the
      // diversity-maximizing choice. Labels and scores are duplicate-
      // cluster-sized (broadcast while under the size-aware limit —
      // every frame in this block is bounded by the CC label count, so
      // one cheap count of the truncated CC output gates ALL three
      // hints); the representative per cluster is min by
      // (centroid-cos, id), so the whole policy stays deterministic and
      // differentially testable (the cosine is the same double
      // arithmetic the oracle recomputes).
      val labels = connectedComponents(pairs)
        .withColumnRenamed("id", "__lab_id") // idCol may itself be "id"
      val nDup = labels.count() // truncated CC output: block scan
      val memberScores = scored
        .join(maybeBroadcast(labels, nDup), col(idCol) === col("__lab_id"))
        .select(col("cluster"), col(idCol).as("__mid"), col("__ccos"))
      val reps = memberScores.groupBy("cluster")
        .agg(min(struct(col("__ccos"), col("__mid"))).as("__rep"))
        .select(col("cluster"), col("__rep.__mid").as("__keep_id"))
      val drop = labels.join(maybeBroadcast(reps, nDup), Seq("cluster"))
        .where(col("__lab_id") =!= col("__keep_id"))
        .select(col("__lab_id").as(idCol))
      assigned.join(maybeBroadcast(drop, nDup), Seq(idCol), "left_anti")
        .select(col(idCol), col("cent_id"))
    }
  }

  // ─────────────────────── duplicated spans (ExactSubstr) ───────────────────

  /** Merge marked gram positions into maximal [start, end] character
    * intervals per document: each pos covers [pos, pos+spanLen-1], and
    * marks whose covered regions overlap or touch merge (gaps-and-
    * islands over a per-document window — document-local state, no
    * global sort). */
  private def mergeSpans(marks: DataFrame, idCol: String, spanLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val prevEnd = max(col("pos") + lit((spanLen - 1).toLong))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marks
      // first mark per doc: prevEnd is null → condition null → new island
      .withColumn("__brk", when(col("pos") <= prevEnd + lit(1L), lit(0L)).otherwise(lit(1L)))
      .withColumn("__isl", sum(col("__brk")).over(byDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit((spanLen - 1).toLong)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1L)).as("span_chars"))
  }

  /** Shared tail of the two span miners: count occurrences of each
    * 128-bit gram hash, keep hashes seen at least `minOcc` times, mark
    * the contributing positions, merge into intervals.
    *
    * The gram stream feeds BOTH the count and the mark join, and
    * ReuseExchange can NOT deduplicate them: the count side's exchange
    * subtree contains the partial HashAggregate (map-side combine), so
    * it is never structurally identical to a mark-side shuffle — and
    * when AQE broadcasts the dup-digest side the mark side doesn't
    * shuffle at all, leaving the explode+hash recomputed from scan.
    *
    * That 2× computation is the DELIBERATE default, decided by
    * measurement (round 7, same-JVM interleaved min-of-3 at x10;
    * SCALING.md, "Round-7 reversal, measured: the span miners keep the
    * 2× gram-stream computation"): checkpoint-materializing the gram
    * frame so both branches read blocks measured 9.96 s vs 3.11 s for
    * the recompute — 3.2× slower. The bytes explain it: the gram
    * stream is ~28 B per corpus CHARACTER, so materializing writes (and
    * re-reads) ~28× the corpus's own bytes through the block manager,
    * while the recompute re-scans the corpus once more (columnar,
    * pruned to id+text) and replays one compiled projection
    * ([[graft.functions.GramAnchors]]).
    * The same arithmetic holds at 100 TB on object storage: two pruned
    * corpus scans ≪ one write + two reads of a 28×-corpus-sized
    * stream. `materialize = true` remains available for inputs where a
    * second scan is genuinely expensive (the corpus behind a slow
    * view/computation rather than a parquet table). */
  private def spansFromGrams(grams: DataFrame, idCol: String,
                             spanLen: Int, minOcc: Int,
                             materialize: Boolean): DataFrame = {
    val g = if (materialize) Checkpointing.truncate(grams) else grams
    val occ = g.groupBy("h1", "h2").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minOcc)
    val marks = g.join(occ, Seq("h1", "h2")).select(col(idCol), col("pos"))
    mergeSpans(marks, idCol, spanLen)
  }

  /** The slim (id, pos, h1, h2) gram/anchor stream every span miner
    * shuffles: [[graft.functions.GramAnchors]] computes digests (and,
    * for window ≥ 1, winnowing anchors) row-locally; only the 24-byte
    * structs explode. */
  private def gramRows(docs: DataFrame, idCol: String, textCol: String,
                       spanLen: Int, window: Int): DataFrame =
    spreadCompute(docs, idCol)
      .where(length(col(textCol)) >= spanLen)
      .select(col(idCol),
        explode(graft.functions.GramAnchors.grams(col(textCol), spanLen, window)).as("__a"))
      .select(col(idCol), col("__a.pos").as("pos"),
        col("__a.h1").as("h1"), col("__a.h2").as("h2"))

  /** Exact duplicated-span detection — the ExactSubstr dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022), re-expressed relationally: every `spanLen`-char window
    * of `textCol` occurring at least `minOcc` times anywhere in the
    * corpus (across documents or repeated within one) marks its
    * positions, and overlapping/touching marks merge into removable
    * character intervals per document.
    *
    * Scale design: the span TEXT never leaves its source row — the
    * stream that shuffles is (id, pos, h1, h2) where (h1, h2) is the
    * full 128-bit md5 of the span (16-byte key: collision-odds
    * cryptographic, and PORTABLE — an external engine recomputes the
    * digest verbatim, same differential-testing property as
    * [[portableHash64]]). Occurrence counting is a partial-aggregating
    * groupBy on that key; the mark side recomputes the gram stream
    * from a second pruned corpus scan — measured CHEAPER than sharing
    * a materialized copy, see [[spansFromGrams]] — and with the small
    * dup-digest side broadcast the stride-1 stream pays ONE shuffle of
    * ~28 bytes per corpus character. That prices per-char exactness to
    * ~corpus-size × 28 shuffle bytes — fine into the tens of TB; past
    * that, [[duplicatedSpansWinnowed]] trades a detection-length floor
    * for a ~window× smaller stream.
    *
    * Returns (idCol, span_start, span_end, span_chars); positions are
    * 1-based inclusive bigints. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      spanLen: Int, minOcc: Int = 2,
                      materialize: Boolean = false,
                      sampleMod: Int = 1): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive, got $spanLen")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    // hash every gram ROW-LOCALLY inside one compiled expression
    // ([[graft.functions.GramAnchors]], window = 0) and explode only the
    // slim (pos, h1, h2) structs. Two measured traps this avoids: an
    // explode-then-substring formulation copies the full document text
    // once PER GRAM through the Generate (~300 bytes × n_grams vs 24),
    // and the earlier `transform(sequence, md5(substr))` HOF paid the
    // interpreted CodegenFallback lambda walk per gram.
    //
    // `sampleMod` = p is the CONTENT-DEFINED sampling dial for corpora
    // where even the slim stride-1 stream is too large: only grams
    // whose h1 ≡ 0 (mod p) survive into the shuffle, cutting the
    // exchanged bytes ~p×. Content-defined (a pure function of the
    // gram hash, NOT of position) is the load-bearing choice: every
    // copy of a duplicated gram makes the SAME keep/drop decision, so
    // detection stays alignment-robust — the failure mode of
    // fixed-stride sampling (copies at offsets differing mod p sample
    // disjoint positions and never match) cannot occur. Recall
    // contract: a duplicated region with g = L − spanLen + 1 grams is
    // missed iff ALL its grams hash out — probability (1 − 1/p)^g
    // under the 64-bit digest's uniformity, i.e. regions of length ≥
    // spanLen + p·ln(1/ε) are detected with probability ≥ 1 − ε
    // (p = 16, ε = 1e-4: +148 chars). Reported intervals are also
    // SPARSER: kept duplicate positions ~p·(original gap) apart may
    // split one true region into several sub-intervals (each still
    // inside the true region — mark positions are a subset, so every
    // reported interval is contained in a stride-1 interval). p = 1
    // (the default, and the q99 oracle) is byte-exact ExactSubstr;
    // the OTHER beyond-path, [[duplicatedSpansWinnowed]], keeps a
    // DETERMINISTIC detection floor instead of a probabilistic one
    // and remains the recommendation when boundaries matter.
    val grams0 = gramRows(docs, idCol, textCol, spanLen, 0)
    val grams =
      if (sampleMod == 1) grams0
      else grams0.where(pmod(col("h1"), lit(sampleMod.toLong)) === 0L)
    spansFromGrams(grams, idCol, spanLen, minOcc, materialize)
  }

  /** Duplicated-span detection for corpora where the stride-1 gram
    * stream is too large: winnowing anchor selection (Schleimer,
    * Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003). Each document keeps, for every
    * window of `window` consecutive grams, the position of the
    * lexicographically smallest gram md5 (leftmost on ties) — a
    * CONTENT-DEFINED choice, so two copies of a span select the same
    * anchors regardless of their alignment in their documents (the
    * failure mode of fixed-stride sampling, where copies at different
    * offsets sample disjoint substrings and never match). The rule
    * must be argmin-of-EACH-window, not "gram equals its trailing-
    * window min": the latter lets a small hash just before a shared
    * region veto the region's argmin in one document but not the
    * other, which silently breaks the guarantee below (caught by
    * DupSpansSpec's planted-alignment test).
    *
    * Guarantee (winnowing theorem): any duplicated region of at least
    * `window + spanLen - 1` characters contains a full gram window,
    * whose argmin both copies select — so it shares at least one
    * anchor; shorter duplicates may be missed, a recall floor, not a
    * correctness bug. With `window <= spanLen`, anchors of one region
    * always merge into one interval (consecutive selected positions
    * are at most `window` grams apart — winnowing's density bound —
    * less than the `spanLen` cover). Reported boundaries are anchor-
    * cover approximations: up to ~`window` grams tighter than the true
    * duplicated region. Documents with fewer than `window` grams use
    * one whole-document window (strict winnowing would fingerprint
    * nothing there and could never match short documents).
    *
    * Scale design: selection happens INSIDE one per-row projection
    * (array HOFs over the row-local gram-hash array — O(len × window)
    * comparisons, zero shuffle), so unselected grams never become rows
    * and the shuffled stream shrinks ~window× vs [[duplicatedSpans]].
    * The downstream count/mark/merge is shared ([[spansFromGrams]]). */
  def duplicatedSpansWinnowed(docs: DataFrame, idCol: String, textCol: String,
                              spanLen: Int, window: Int = 8,
                              minOcc: Int = 2,
                              materialize: Boolean = false): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    // hashing + argmin-of-each-window selection run as tight JVM loops
    // inside ONE compiled expression ([[graft.functions.GramAnchors]]:
    // reusable digest, byte-sliced ASCII grams, O(n) monotonic-deque
    // sliding argmin). The previous builtin-HOF formulation — a
    // `transform(sequence, aggregate(...))` nested-lambda argmin — was
    // CodegenFallback-interpreted and paid window× re-scans per gram;
    // on the x100 scaling corpus it made winnowed mining SLOWER than
    // the stride-1 exact miner (284.7 s vs 208.7 s) even though its
    // shuffled stream is ~window× smaller. Selection semantics are
    // bit-identical (leftmost argmin on the md5 hex = unsigned-byte
    // order, whole-document window for short docs, positions deduped) —
    // pinned by the q100 differential oracle and DupSpansSpec.
    spansFromGrams(gramRows(docs, idCol, textCol, spanLen, window),
      idCol, spanLen, minOcc, materialize)
  }

  /** Cross-corpus duplicated spans: every `spanLen`-char window of
    * `docs` that occurs ANYWHERE in `refDocs` marks its positions;
    * marks merge into per-doc intervals ([[mergeSpans]]). The span-
    * level complement of [[crossCorpusJaccardPairs]] and the
    * span-granular sibling of [[Decontamination]] — the "cut the
    * training spans that leak the eval set" / "dedup the new crawl
    * against the archive" shape from Lee et al.; feed the result to
    * [[removeSpans]] for the rewrite.
    *
    * `window` = 0 (default) is exact stride-1 on BOTH sides; `window`
    * ≥ 1 winnows both sides with the same content-defined anchor rule,
    * so a shared region of at least `window + spanLen - 1` chars still
    * shares an anchor (the [[duplicatedSpansWinnowed]] guarantee,
    * cross-corpus) at ~window× less shuffle.
    *
    * Scale design: the reference side reduces to DISTINCT 128-bit
    * digests (16 B per ref char at stride 1, ~window× less winnowed —
    * the ref text never shuffles), and the mark is a LEFT SEMI join on
    * (h1, h2): the docs-side stream carries (id, pos, h1, h2) once,
    * Spark keeps semi-join build sides hash-only, and AQE broadcasts a
    * small reference outright. */
  def duplicatedSpansAgainst(docs: DataFrame, refDocs: DataFrame,
                             idCol: String, textCol: String,
                             spanLen: Int, window: Int = 0): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive, got $spanLen")
    require(window >= 0, s"window must be >= 0, got $window")
    val refHashes = gramRows(refDocs, idCol, textCol, spanLen, window)
      .select("h1", "h2").distinct()
    val marks = gramRows(docs, idCol, textCol, spanLen, window)
      .join(refHashes, Seq("h1", "h2"), "left_semi")
      .select(col(idCol), col("pos"))
    mergeSpans(marks, idCol, spanLen)
  }

  /** Corpus rewrite: CUT mined duplicated spans out of each document,
    * order-preserving — the second half of the ExactSubstr method (Lee
    * et al. ACL 2022 remove every duplicated span, not just report it).
    * `spans` is the output of [[duplicatedSpans]] /
    * [[duplicatedSpansWinnowed]] (or any (idCol, span_start, span_end)
    * frame with 1-based inclusive character intervals); intervals are
    * re-merged here, so overlapping inputs are also safe. Documents
    * with no spans pass through byte-identical; all non-text columns
    * are preserved.
    *
    * Scale design: the cut itself is row-local — the per-doc interval
    * array folds over the text in ONE projection (concat of the
    * between-interval substrings), so the rewrite adds no shuffle on
    * top of the join that delivers intervals to their document. That
    * join keys the interval side by doc id; the interval payload is a
    * few longs per affected doc (duplicate-density-sized, ~KBs/doc vs
    * the document text), so when the affected-doc set is small Spark's
    * stats/AQE broadcast it and the corpus never moves; in the
    * worst case (duplication everywhere) it degrades to one id-keyed
    * shuffle of corpus text — the same price as the miners' gram
    * stream, not above it. */
  def removeSpans(docs: DataFrame, spans: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val iv = spans
      .select(col(idCol), col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__iv"))
    // fold the sorted intervals over the text: acc carries (kept-so-far,
    // cursor); each interval appends text[cursor, s-1] and jumps the
    // cursor to e+1; finish appends the tail. The greatest() clamps make
    // overlapping/touching input intervals collapse naturally (gap
    // length 0, cursor monotone), so no separate merge pass is needed
    val cut = aggregate(
      col("__iv"),
      struct(lit("").as("acc"), lit(1L).as("cur")),
      (st, i) => struct(
        concat(st.getField("acc"),
          col(textCol).substr(st.getField("cur").cast("int"),
            greatest(i.getField("s") - st.getField("cur"), lit(0L)).cast("int")))
          .as("acc"),
        greatest(i.getField("e") + 1L, st.getField("cur")).as("cur")),
      st => concat(st.getField("acc"),
        col(textCol).substr(st.getField("cur").cast("int"),
          greatest(length(col(textCol)).cast("long") - st.getField("cur") + 1L, lit(0L))
            .cast("int"))))
    docs.join(iv, Seq(idCol), "left")
      .withColumn(textCol, when(col("__iv").isNull, col(textCol)).otherwise(cut))
      .drop("__iv")
  }
}
