package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (north-star extension):
  * tokenization, token counting, n-gram shingles, language-ID heuristic,
  * quality scoring, document fingerprinting.
  *
  * Everything is built from codegen'd native functions (no UDFs), so these
  * run inside whole-stage codegen over a 100 TB documents scan.
  */
object TextOps {

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, single
    * punctuation — approximates an LLM tokenizer's pre-split. */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpeishPattern), lit(0)))

  /** Word n-gram shingles (distinct), the unit for MinHash / Jaccard.
    *
    * The token array is let-bound through a single-element-array
    * `transform` so the index lambda sees it as a LAMBDA VARIABLE:
    * higher-order-function lambdas evaluate interpreted and re-evaluate
    * any captured expression per element, so inlining `tokens(text)`
    * (a regex split) into the per-index lambda would re-split the text
    * once per shingle — O(tokens × text_len) per row instead of
    * O(text_len). */
  def shingles(text: Column, n: Int): Column =
    element_at(
      transform(array(tokens(text)), ts =>
        array_distinct(
          transform(sequence(lit(0), greatest(size(ts) - n, lit(0))),
            i => concat_ws(" ", slice(ts, i + 1, lit(n)))))),
      1)

  /** Character n-gram shingles (distinct). */
  def charShingles(text: Column, n: Int): Column = {
    array_distinct(
      transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))
  }

  // --- language ID (stopword-overlap heuristic) -----------------------
  // Tiny per-language stopword lists; score = |tokens ∩ stopwords| /
  // |tokens|, prediction = argmax (ties broken by language code order via
  // struct max). This is the classic cheap n-gram/stopword LID — a real
  // deployment would swap in fastText-style profiles, but the Spark shape
  // (pure column expressions, broadcastable literals) is the same.
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "with", "as", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "del", "las", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "sich", "auf", "ist"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "du", "que", "est", "pour"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe", "men", "lai"))

  /** Lowercased tokens — compute ONCE and feed the *FromTokens variants
    * when scoring several languages: higher-order functions evaluate
    * interpreted, so Spark's subexpression elimination does not collapse
    * repeated tokenizations across 10 scoring expressions. */
  def lowerTokens(text: Column): Column = transform(tokens(text), t => lower(t))

  def langScoreFromTokens(toksLower: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    size(array_intersect(toksLower, sw)).cast("double") /
      greatest(size(toksLower), lit(1)).cast("double")
  }

  def langScore(text: Column, lang: String): Column =
    langScoreFromTokens(lowerTokens(text), lang)

  /** Predicted language code (argmax stopword overlap; "und" if no
    * stopword hits at all). */
  def langIdFromTokens(toksLower: Column): Column = {
    val scored = array(stopwords.keys.toSeq.sorted.map(l =>
      struct(langScoreFromTokens(toksLower, l).as("score"), lit(l).as("lang"))): _*)
    val best = array_max(scored)
    when(best.getField("score") === 0.0, lit("und")).otherwise(best.getField("lang"))
  }

  def langId(text: Column): Column = langIdFromTokens(lowerTokens(text))

  /** Deterministic per-language orthography injection — the q164
    * damage-injection pattern applied to language ID: the synthetic
    * fixture's text carries NO language signal (every lang draws from
    * the same 31-word vocabulary; measured: every feature family hits
    * the 41% majority floor), so the trained-langid gate derives a
    * REALISTIC multilingual corpus by translating each lang's docs
    * through its own single-character orthography map (umlauts,
    * accents, CJK) from these shared literals — the signal real
    * language ID actually keys on, which the stopword heuristic
    * provably cannot see (no stopword changes) and hashed char-ngrams
    * learn. \u escapes, never retyped glyphs (the q164 lesson: a
    * retyped literal silently never matches and BOTH engines miss
    * identically, leaving the gate green and dead). */
  val LangOrtho: Seq[(String, String, String)] = Seq(
    ("de", "aou", "\u00e4\u00f6\u00fc"),
    ("es", "no", "\u00f1\u00f3"),
    ("fr", "ei", "\u00e9\u00ee"),
    ("zh", "aeiou", "\u7684\u662f\u4e0d\u4e86\u5728"))

  def orthoInject(lang: Column, text: Column): Column =
    LangOrtho.foldRight(text) { case ((l, from, to), els) =>
      when(lang === l, translate(text, from, to)).otherwise(els)
    }

  /** SQL twin of [[orthoInject]] — built from the SAME literals. */
  def orthoInjectSql(lang: String, text: String): String =
    "CASE " + LangOrtho.map { case (l, f, t) =>
      s"WHEN $lang = '$l' THEN translate($text, '$f', '$t')"
    }.mkString(" ") + s" ELSE $text END"

  // --- quality scoring ------------------------------------------------

  /** Gopher-style quality components, each in [0,1]. Pass a precomputed
    * [[lowerTokens]] column to avoid re-tokenizing per component. */
  def qualityComponentsFromTokens(text: Column, toksLower: Column): Seq[(String, Column)] = {
    val n = greatest(size(toksLower), lit(1)).cast("double")
    val nonSpaceLen = greatest(length(regexp_replace(text, "\\s", "")), lit(1)).cast("double")
    Seq(
      // mean token length inside the "natural language" band [3, 10]
      "word_len_ok" -> when((nonSpaceLen / n).between(3.0, 10.0), 1.0).otherwise(0.0),
      // stopword presence: any-language stopword hit ratio, capped
      "stopword_ratio" -> least(lit(1.0),
        stopwords.keys.toSeq.sorted.map(l => langScoreFromTokens(toksLower, l))
          .reduce(_ + _) * 2.0),
      // fraction of alphabetic characters
      "alpha_ratio" ->
        length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
          greatest(length(text), lit(1)).cast("double"),
      // lexical diversity: distinct tokens / tokens (low => boilerplate)
      "distinct_ratio" -> size(array_distinct(toksLower)).cast("double") / n,
      // length in a sane document band
      "len_ok" -> when(length(text).between(20, 1000000), 1.0).otherwise(0.0))
  }

  def qualityComponents(text: Column): Seq[(String, Column)] =
    qualityComponentsFromTokens(text, lowerTokens(text))

  /** Scalar quality score: mean of the components. */
  def qualityScoreFromTokens(text: Column, toksLower: Column): Column = {
    val comps = qualityComponentsFromTokens(text, toksLower).map(_._2)
    comps.reduce(_ + _) / comps.size
  }

  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, lowerTokens(text))

  // --- fingerprinting -------------------------------------------------

  /** Winnowing-style document fingerprint: minimum xxhash64 over all
    * character k-grams — robust to reordering at the edges, cheap to
    * compare for containment/near-equality at scale. */
  def minHashFingerprint(text: Column, k: Int = 8): Column =
    array_min(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => xxhash64(text.substr(i, lit(k)))))

  /** Polynomial rolling hash of the whole document (order-sensitive):
    * h = (h*base + code(c)) mod P with P < 2^40, so the multiply never
    * overflows a long (Spark 4 runs ANSI arithmetic by default).
    * Different bases give independent fingerprints (a fingerprint
    * vector for cheap order-sensitive near-equality checks); the
    * arithmetic is plain bounded modular math, so an external engine
    * (e.g. DuckDB `list_reduce`) reproduces it bit-exactly. */
  def rollingHash(text: Column, base: Long = 31L): Column = {
    val P = 1099511627689L // prime < 2^40
    aggregate(split(text, ""), lit(0L),
      (h, c) => pmod(h * base + ascii(c).cast("long"), lit(P)))
  }

  // --- chunking (RAG / context-window prep) -----------------------------

  /** Fixed-size overlapping character chunks with offsets — the
    * retrieval/context-window prep step: every document becomes rows
    * (idCol, chunk_id, chunk_start, chunk_text, chunk_chars) where
    * chunk k starts at char offset k·strideChars (0-based) and spans up
    * to chunkChars characters (`strideChars < chunkChars` ⇒ overlap of
    * `chunkChars - strideChars` chars between neighbours). Empty
    * documents produce no chunks; the final chunk may be shorter.
    *
    * Scale design: a pure row-local projection + generator — offsets
    * come from `sequence`, the slice from `substring`, all inside the
    * scan's codegen stage; NO shuffle, NO state. Output size is
    * ~(chunkChars/strideChars)× the corpus, which is the caller's
    * explicit overlap budget, not a plan artifact. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkChars: Int, strideChars: Int): DataFrame = {
    require(chunkChars >= 1, s"chunkChars must be >= 1: $chunkChars")
    require(strideChars >= 1, s"strideChars must be >= 1: $strideChars")
    val starts = when(length(col(textCol)) > 0,
        sequence(lit(0), length(col(textCol)) - 1, lit(strideChars)))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col(idCol), col(textCol), posexplode(starts).as(Seq("__k", "__s")))
      .select(col(idCol),
        col("__k").cast("long").as("chunk_id"),
        col("__s").cast("long").as("chunk_start"),
        col(textCol).substr(col("__s") + 1, lit(chunkChars)).as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")).cast("long"))
  }

  /** Sentence-aware chunking — the RAG/context-window shape
    * [[chunkDocs]] deliberately is not: fixed character windows split
    * mid-sentence, and a retrieval chunk that starts in the middle of a
    * thought embeds badly. Sentences (terminal-punctuation boundaries)
    * are packed IN READING ORDER into chunks of at most `maxChars`
    * joined characters, never splitting a sentence; a lone sentence
    * longer than maxChars rides as its own oversize chunk.
    *
    * The sentence split is RE2-portable (no lookbehind, which DuckDB's
    * RE2 lacks): a U+0001 sentinel is injected after each
    * `[.!?]` + whitespace run, then split — the punctuation stays with
    * its sentence. Packing is one compiled
    * [[graft.functions.SentencePack]] node per document (the FfdPack
    * discipline): row-local generator projection, zero shuffle at any
    * corpus size, output ≈ 1× corpus bytes.
    *
    * Returns (idCol, chunk_id 0-based, chunk, n_chars). */
  def chunkSentences(docs: DataFrame, idCol: String, textCol: String,
                     maxChars: Int, sep: String = " "): DataFrame = {
    require(maxChars >= 1, s"maxChars must be >= 1: $maxChars")
    val marked = regexp_replace(col(textCol), "([.!?])[ \\t]+", "$1\u0001")
    val sents = filter(split(marked, "\u0001"), s => length(trim(s)) > lit(0))
    docs
      .select(col(idCol),
        posexplode(graft.functions.SentencePack.pack(sents, maxChars, sep))
          .as(Seq("__k", "chunk")))
      .select(col(idCol),
        col("__k").cast("int").as("chunk_id"),
        col("chunk"),
        length(col("chunk")).cast("long").as("n_chars"))
  }

  // --- BPE vocabulary induction (tokenizer prep) ------------------------

  /** Frequency-weighted adjacent-symbol pair counts over the corpus's
    * word vocabulary — one merge-selection step of byte-pair encoding
    * (Sennrich et al. 2016): each distinct lowercased word contributes
    * its adjacent character pairs weighted by the word's corpus
    * frequency; the top pair is the next BPE merge. Every adjacent
    * position counts (overlaps included), matching the reference BPE
    * implementation's pair statistics.
    *
    * Scale design: word counting is the classic two-phase wordcount
    * (map-side partial agg collapses each partition's tokens before one
    * (word, count) shuffle); pair enumeration runs over the DISTINCT
    * word table — vocabulary-sized, orders of magnitude smaller than
    * the corpus — and the pair space is bounded by charset², so the
    * final top-k is `TakeOrderedAndProject`-shaped. */
  def bpeTopPairs(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val words = docs
      .select(explode(lowerTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(length(col("word")) >= 2)
    words
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"),
        col("cnt"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Full iterative BPE vocabulary learning: `rounds` merge steps, each
    * picking the most frequent adjacent symbol pair (ties by pair
    * string) and merging it corpus-wide. Returns (merge_rank, left,
    * right, merged, score) — the learned merge table in order.
    *
    * Implementation: the distinct-word table (word, cnt) is computed
    * once, each word's symbol sequence held as a space-joined string;
    * a merge rewrites it with one left-to-right non-overlapping
    * replacement (regex with non-consuming boundaries, so "l l l"
    * merges to "ll l" exactly as reference BPE's greedy scan does).
    * Driver state per round is ONE collected (pair, count) row; the
    * vocabulary table stays distributed, with checkpoint truncation
    * every few rounds to stop lineage growth — the [[graft.ops.Dedup]]
    * connected-components iteration discipline. */
  def bpeLearn(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    import java.util.regex.{Matcher, Pattern}
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = docs.sparkSession
    var vocab = docs
      .select(explode(lowerTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(length(col("word")) >= 1)
      // symbol sequence: chars joined by ' ' (tokens are whitespace-split,
      // so ' ' can never collide with a symbol)
      .select(concat_ws(" ", split(col("word"), "")).as("syms"), col("cnt"))
    vocab = graft.ops.Checkpointing.truncate(vocab)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 0
    while (r < rounds) {
      val top = vocab
        .select(explode(transform(array(split(col("syms"), " ")), ss =>
            when(size(ss) >= 2,
              transform(sequence(lit(1), size(ss) - 1),
                i => struct(element_at(ss, i).as("l"), element_at(ss, i + 1).as("r"))))
              .otherwise(array().cast("array<struct<l:string,r:string>>"))))
          .as("ps"), col("cnt"))
        .select(explode(col("ps")).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) r = rounds
      else {
        val (l, rr, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.size + 1, l, rr, l + rr, n))
        // left-to-right non-overlapping merge: boundaries are
        // non-consuming so adjacent merge sites stay mergeable
        val pat = "(?<= |^)" + Pattern.quote(l + " " + rr) + "(?= |$)"
        val rep = Matcher.quoteReplacement(l + rr)
        vocab = vocab.select(regexp_replace(col("syms"), pat, rep).as("syms"), col("cnt"))
        if ((merges.size % 8) == 0) vocab = graft.ops.Checkpointing.truncate(vocab)
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "left", "right", "merged", "score")
  }

  /** Driver-side BPE learning over a COLLECTED (word, count) vocabulary
    * — the merge loop [[bpeLearn]] runs as one Spark job per round,
    * restated as plain Scala over the vocab table. Identical semantics
    * (frequency-weighted exact-symbol pairs, count-desc /(l,r)-asc
    * ties in binary string order, left-to-right non-overlapping
    * rewrite, early stop when no pairs remain); BpeEncodeSpec pins the
    * equivalence against [[bpeLearn]] round for round.
    *
    * Why it exists: a merge ROUND is inherently sequential (each round
    * depends on the last), so [[bpeLearn]]'s per-round Spark job buys
    * no parallelism beyond the pair count, while a real tokenizer
    * wants thousands of rounds. The vocabulary is orders of magnitude
    * smaller than the corpus (this is why production BPE trainers all
    * work word-count-first), so the right split at 100 TB is: ONE
    * distributed wordcount (the caller's `groupBy(word).count`
    * collect — vocab-sized, bounded), then this driver loop. */
  def bpeLearnFromVocab(wordCounts: Seq[(String, Long)], rounds: Int): Seq[(String, String)] = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var vocab: Seq[(Array[String], Long)] = wordCounts
      .filter(_._1.nonEmpty)
      .map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, rr), _) = counts.toSeq.minBy { case ((l, rr), n) => (-n, l, rr) }
        merges += ((l, rr))
        vocab = vocab.map { case (syms, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += l + rr; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, cnt)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** The distributed wordcount feeding [[bpeLearnFromVocab]]: one
    * map-side-combined (word, count) aggregation — the only corpus
    * pass BPE training needs. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(lowerTokens(col(textCol))).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  // --- BPE encode (apply a learned merge table) -------------------------

  /** Symbol-boundary marker for [[bpeApplyMerges]]. U+0001 by contract
    * cannot occur in corpus text (binary control char; assert/scrub
    * upstream if a corpus could carry it). */
  val BpeMark = "\u0001"

  /** Whole-text symbol form: every non-space character prefixed with
    * [[BpeMark]] — "ab cd" → "␁a␁b ␁c␁d". Merges match marker-delimited
    * symbol PAIRS, so they can never cross a word boundary (the space
    * between words breaks marker adjacency) and a symbol can never
    * false-match inside a longer symbol ("␁l␁l" does not occur in
    * "␁ll␁l"). One regexp pass over the scan — no per-word
    * higher-order functions. */
  def bpeSymbolString(text: Column): Column =
    regexp_replace(trim(lower(text)), "(\\S)", BpeMark + "$1")

  /** Apply a learned merge table in order: each merge is ONE literal
    * (non-regex) `replace` — left-to-right, non-overlapping, exactly
    * the greedy scan [[bpeLearn]]'s rewrites use, and exactly what
    * every SQL engine's `replace` does, which is what lets a fixed
    * merge table carry a full differential oracle. Later merges see
    * earlier merges' output symbols ("m"+"er" matches only after
    * "e"+"r" ran). */
  def bpeApplyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (s, (l, r)) =>
      call_function("replace", s,
        lit(BpeMark + l + BpeMark + r), lit(BpeMark + l + r))
    }

  /** Per-document BPE token count under a fixed merge table: the number
    * of [[BpeMark]]s left after the merges. Pure string-function
    * projection; at corpus scale this runs inside the scan's codegen
    * stage. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    val enc = bpeApplyMerges(bpeSymbolString(text), merges)
    (length(enc) - length(call_function("replace", enc, lit(BpeMark), lit(""))))
      .cast("long")
  }

  /** PRODUCTION encoder: the whole merge table as ONE compiled node
    * ([[graft.functions.BpeEncodeMerges]]), bit-identical to
    * [[bpeApplyMerges]]' replace chain for any table but O(applied
    * merges × word length) per DISTINCT word instead of one full
    * string pass + one expression node per table entry — the chain is
    * a 32k-deep tree and 32k passes/row at a real tokenizer's vocab
    * (the SignLshBuckets/GramAnchors/PortableLn codegen-blowup class).
    * The chain stays as the differential-oracle twin. */
  def bpeEncodeCompiled(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncodeMerges.encode(bpeSymbolString(text), merges)

  /** [[bpeTokenCount]] via the compiled encoder — one node, one pass. */
  def bpeTokenCountCompiled(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncodeMerges.tokenCount(bpeSymbolString(text), merges)

  // --- Unicode / whitespace canonicalization ----------------------------

  /** Unicode NFC composition as a Column (compiled single node —
    * [[graft.functions.NfcNormalize]]). */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.GraftSqlShim
    GraftSqlShim.column(
      graft.functions.NfcNormalize(GraftSqlShim.expression(text)))
  }

  /** Canonical text form — the pass crawl pipelines run BEFORE any
    * hashing: "café" composed (U+00E9) and decomposed (e + U+0301) are
    * different byte strings with identical rendering, so exact dedup,
    * MinHash shingles, and line digests all miss the duplicate without
    * it. In order: CR/CRLF → LF and strip the remaining C0 controls +
    * DEL (tab and LF survive — they are structure) FIRST, then NFC
    * composition — controls must go before NFC because a stray control
    * between a base char and its combining mark blocks composition
    * (strip-then-compose is canonical and idempotent; compose-then-
    * strip leaves decomposed residue) — then collapse space/tab runs
    * to one space, strip spaces around newlines, trim. Pure row-local
    * column expressions — at corpus scale this rides the scan's
    * codegen stage, zero shuffle. */
  def normalizeText(text: Column): Column = {
    val lf = regexp_replace(text, "\\r\\n|\\r", "\n")
    val noCtl = regexp_replace(lf, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val composed = nfc(noCtl)
    val oneSpace = regexp_replace(composed, "[ \\t]+", " ")
    trim(regexp_replace(oneSpace, " ?\\n ?", "\n"))
  }

  /** The DuckDB twin of [[normalizeText]] over a SQL fragment —
    * utf8proc's nfc_normalize implements the same Unicode NFC
    * algorithm, and both regex dialects treat these ASCII classes
    * identically. */
  def normalizeTextSql(e: String): String = {
    val lf = s"regexp_replace($e, '\\r\\n|\\r', chr(10), 'g')"
    val noCtl =
      s"regexp_replace($lf, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')"
    val composed = s"nfc_normalize($noCtl)"
    val oneSpace = s"regexp_replace($composed, '[ \\t]+', ' ', 'g')"
    s"trim(regexp_replace($oneSpace, ' ?\\n ?', chr(10), 'g'))"
  }

  // --- HTML / markup extraction -----------------------------------------

  /** HTML → text extraction — the step BEFORE every quality/dedup pass
    * when the corpus arrives as crawled markup (which at web scale it
    * always does): the raw page is ~90% chrome, and every downstream
    * signal — Gopher fractions, MinHash shingles, LM surprisal — is
    * garbage if script bodies and tag soup leak into the "text".
    *
    * Order is the whole design, each step creating the precondition
    * for the next: (1) CR/CRLF → LF; (2) drop `script`/`style`
    * ELEMENTS including their content FIRST — their bodies legally
    * contain bare `<`/`>` (`if(1<2)`, CSS child selectors), so the
    * generic tag regex must never see them; (3) drop comments
    * (`<!-- -->` may wrap markup that must not resurface as text);
    * (4) block-level tags — OPENERS as well as closers, because
    * omitting `</p>`/`</li>` is valid HTML5 and ubiquitous in crawls
    * (`<p>one<p>two` must not fuse to "onetwo") — and `<br>` become
    * newlines, the layout signal Gopher's line rules and
    * [[removeRepeatedLines]] need; (5) strip every remaining tag;
    * (6) decode the five XML named entities (`&lt; &gt; &quot; &apos;
    * &amp;`) + `&#39;` + `&nbsp;`, `&amp;` LAST so `&amp;lt;` decodes
    * to the literal `&lt;` the author wrote, not to `<` (single-decode
    * semantics); (7) whitespace discipline as in [[normalizeText]]
    * (newline runs collapse, so opener+closer breaks never double a
    * blank line).
    *
    * Pure row-local regexp/replace chain — rides the scan's codegen
    * stage, zero shuffle at any corpus size. Both dialects are RE2-
    * compatible ASCII patterns ([[htmlToTextSql]] is the byte-exact
    * DuckDB twin). Not a browser: unclosed script/style elements and
    * pathological nesting degrade gracefully (the non-greedy block
    * match stops at the first closer) but are not CommonMark/WHATWG
    * conformant — crawl extraction, not rendering. */
  def htmlToText(html: Column): Column = {
    val lf = regexp_replace(html, "\\r\\n|\\r", "\n")
    val noBlock = regexp_replace(lf,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", "")
    val noComment = regexp_replace(noBlock, "(?s)<!--.*?-->", "")
    val breaks = regexp_replace(noComment,
      "(?i)</?(br|p|div|li|tr|td|th|h[1-6]|blockquote|title|table|ul|ol)\\b[^>]*>",
      "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", "")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "'", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        call_function("replace", c, lit(ent), lit(ch)) }
    val oneSpace = regexp_replace(decoded, "[ \\t]+", " ")
    // strip the " \n" SET at both ends — bare trim() strips only
    // spaces in both engines, break insertion leaves a trailing
    // newline on most real pages, and Spark's two-arg trim signature
    // is deprecated (anchored regex is dialect-identical)
    regexp_replace(
      regexp_replace(oneSpace, " ?\\n[ \\n]*", "\n"),
      "^[ \\n]+|[ \\n]+$", "")
  }

  /** The DuckDB twin of [[htmlToText]] over a SQL fragment — same RE2
    * patterns, same replace chain, 'g' everywhere (Spark replaces all
    * occurrences by default; DuckDB needs the flag). */
  def htmlToTextSql(e: String): String = {
    val lf = s"regexp_replace($e, '\\r\\n|\\r', chr(10), 'g')"
    val noBlock = s"regexp_replace($lf, " +
      "'(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>', '', 'g')"
    val noComment = s"regexp_replace($noBlock, '(?s)<!--.*?-->', '', 'g')"
    val breaks = s"regexp_replace($noComment, " +
      "'(?i)</?(br|p|div|li|tr|td|th|h[1-6]|blockquote|title|table|ul|ol)\\b[^>]*>', " +
      "chr(10), 'g')"
    val noTags = s"regexp_replace($breaks, '<[^>]*>', '', 'g')"
    val decoded = Seq("&lt;" -> "'<'", "&gt;" -> "'>'",
        "&quot;" -> "'\"'", "&apos;" -> "chr(39)", "&#39;" -> "chr(39)",
        "&nbsp;" -> "' '", "&amp;" -> "'&'")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        s"replace($c, '$ent', $ch)" }
    val oneSpace = s"regexp_replace($decoded, '[ \\t]+', ' ', 'g')"
    s"regexp_replace(regexp_replace($oneSpace, ' ?\\n[ \\n]*', chr(10), " +
      "'g'), '^[ \\n]+|[ \\n]+$', '', 'g')"
  }

  // --- Gopher quality rules (Rae et al. 2021, Appendix A) ---------------

  /** The Gopher stopword-presence list. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document Gopher quality-rule signals + the composite keep
    * flag — the rule-based quality filter pipelines actually deploy
    * before model-based scoring. The full Rae et al. 2021 Appendix-A
    * rule set: word count in [minWords, maxWords], mean word length in
    * [3, 10], ≥ 80% of words contain a letter, ≥ 2 stopword
    * occurrences, symbol-to-word ratio ('#' chars and '...' runs)
    * ≤ 0.1, ≤ 90% of lines starting with a bullet ("- ", "* ", "• "),
    * ≤ 30% of lines ending with an ellipsis, and the four repetition
    * fractions — duplicate-line ≤ 0.3, duplicate-paragraph ≤ 0.3
    * (count-based), plus the character-mass variants ≤ 0.2 (share of
    * line/paragraph characters sitting in repeats beyond the first
    * occurrence). Paragraphs split on blank lines ("\n\n").
    *
    * Returns (idCol, n_words, mean_word_len, alpha_frac, stop_hits,
    * symbol_ratio, dup_line_frac, dup_line_char_frac, bullet_frac,
    * ellipsis_frac, dup_para_frac, dup_para_char_frac, keep).
    *
    * Scale/portability: one lowercased-token binding + one line array
    * + one paragraph array feed every rule (single-level HOFs — the
    * class measured fine at x100); counts are exact integers, each
    * fraction is ONE double division of two integers, so the flags
    * replay bit-exactly in the oracle. */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val stopArr = array(GopherStopwords.map(lit): _*)
    def sumLen(arr: Column): Column =
      aggregate(arr, lit(0L), (a, x) => a + length(x).cast("long"))
    def dupCountFrac(arr: Column): Column =
      when(size(arr) === 0, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(arr)).cast("double")
          / size(arr).cast("double"))
    def dupCharFrac(total: Column, distinct: Column): Column =
      when(total === 0L, lit(0.0)).otherwise(
        lit(1.0) - distinct.cast("double") / total.cast("double"))
    val withCounts = docs
      .select(col(idCol), col(textCol).as("__text"),
        lowerTokens(col(textCol)).as("__ts"))
      .withColumn("__lines",
        filter(split(col("__text"), "\n"), l => length(trim(l)) > lit(0)))
      .withColumn("__paras",
        filter(split(col("__text"), "\n\n"), p => length(trim(p)) > lit(0)))
      .select(col(idCol),
        size(col("__ts")).cast("long").as("n_words"),
        sumLen(col("__ts")).as("__sumlen"),
        size(filter(col("__ts"), t => t.rlike("[a-z]"))).cast("long").as("__alpha"),
        size(filter(col("__ts"), t => array_contains(stopArr, t))).cast("long")
          .as("stop_hits"),
        ((length(col("__text")) -
            length(call_function("replace", col("__text"), lit("#"), lit("")))) +
          ((length(col("__text")) -
            length(call_function("replace", col("__text"), lit("..."), lit("")))) / 3)
            .cast("int")).cast("long").as("__syms"),
        size(col("__lines")).cast("long").as("__nlines"),
        size(filter(col("__lines"), l =>
          ltrim(l).startsWith("- ") || ltrim(l).startsWith("* ") ||
            ltrim(l).startsWith("• "))).cast("long").as("__bullets"),
        size(filter(col("__lines"), l =>
          rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
          .cast("long").as("__ellip"),
        dupCountFrac(col("__lines")).as("dup_line_frac"),
        sumLen(col("__lines")).as("__lchars"),
        sumLen(array_distinct(col("__lines"))).as("__lcharsd"),
        dupCountFrac(col("__paras")).as("dup_para_frac"),
        sumLen(col("__paras")).as("__pchars"),
        sumLen(array_distinct(col("__paras"))).as("__pcharsd"))
    withCounts
      .select(col(idCol), col("n_words"),
        (col("__sumlen").cast("double") / col("n_words").cast("double"))
          .as("mean_word_len"),
        (col("__alpha").cast("double") / col("n_words").cast("double"))
          .as("alpha_frac"),
        col("stop_hits"),
        (col("__syms").cast("double") / col("n_words").cast("double"))
          .as("symbol_ratio"),
        col("dup_line_frac"),
        dupCharFrac(col("__lchars"), col("__lcharsd")).as("dup_line_char_frac"),
        when(col("__nlines") === 0L, lit(0.0)).otherwise(
          col("__bullets").cast("double") / col("__nlines").cast("double"))
          .as("bullet_frac"),
        when(col("__nlines") === 0L, lit(0.0)).otherwise(
          col("__ellip").cast("double") / col("__nlines").cast("double"))
          .as("ellipsis_frac"),
        col("dup_para_frac"),
        dupCharFrac(col("__pchars"), col("__pcharsd")).as("dup_para_char_frac"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_frac") >= 0.8 &&
          col("stop_hits") >= 2 &&
          col("symbol_ratio") <= 0.1 &&
          col("dup_line_frac") <= 0.3 &&
          col("dup_line_char_frac") <= 0.2 &&
          col("bullet_frac") <= 0.9 &&
          col("ellipsis_frac") <= 0.3 &&
          col("dup_para_frac") <= 0.3 &&
          col("dup_para_char_frac") <= 0.2)
  }

  // --- repetition / boilerplate signals ---------------------------------

  /** Word n-grams WITHOUT dedup — repetition analysis needs gram
    * multiplicity ([[shingles]] dedupes for Jaccard). Empty array when
    * the doc has fewer than n tokens, so no null-padded grams exist in
    * either engine. */
  def ngramsAll(text: Column, n: Int): Column =
    // token array let-bound as a lambda variable — see [[shingles]]
    element_at(
      transform(array(tokens(text)), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(ts, i + lit(k))): _*)))
          .otherwise(array().cast("array<string>"))),
      1)

  /** Fraction of non-blank lines that are duplicates of an earlier line
    * — a boilerplate signal (repeated headers/footers/navigation). */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > lit(0))
    when(size(lines) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines).cast("double"))
  }

  /** Share of all word n-grams taken by the single most frequent one as
    * a single column expression. O(|grams|²) interpreted HOF per row —
    * ONLY for short strings (titles, lines); at document scale use
    * [[topNgramFractions]], which is codegen + grouped (the m² form
    * cost 94 s over sf0.1 documents vs ~1 s grouped). */
  def topNgramFraction(text: Column, n: Int): Column = {
    val grams = ngramsAll(text, n)
    when(size(grams) === 0, lit(0.0)).otherwise(
      array_max(transform(grams, g => size(filter(grams, x => x === g))))
        .cast("double") / size(grams).cast("double"))
  }

  /** Per-document top-n-gram share the scalable way: explode grams with
    * multiplicity, count per (doc, gram) with map-side partials, then
    * max/sum per doc — every step whole-stage codegen, shuffles carry
    * (doc, gram hash) counts. Docs with no n-grams are absent from the
    * output (join back with a 0.0 default). Returns
    * (idCol, top{n}gram_frac). */
  def topNgramFractions(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, n: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(ngramsAll(col(textCol), n)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg((max(col("__c")).cast("double") / sum(col("__c")).cast("double"))
        .as(s"top${n}gram_frac"))

  // --- PII scrubbing ----------------------------------------------------

  /** Patterns shared with the DuckDB oracle (ASCII classes only, so the
    * Java and RE2 regex dialects agree). URLs are scrubbed before emails
    * (a URL can embed an @) and digit runs last (URLs/emails contain
    * digits). */
  val urlPattern = "https?://[^\\s]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longNumPattern = "\\d{6,}"

  /** Scrub URLs / emails / long digit runs (ids, phone-ish numbers) to
    * typed placeholder tokens — the standard pre-training cleanup pass.
    * Pure codegen regexp_replace chain, no UDF. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "[URL]"),
        emailPattern, "[EMAIL]"),
      longNumPattern, "[NUM]")

  /** Cross-document boilerplate signal: per document, the fraction of
    * its non-blank lines that appear in at least `minDocs` DISTINCT
    * documents corpus-wide (navigation chrome, license banners, cookie
    * notices — the stuff intra-document dedup can't see). The companion
    * to [[duplicateLineFraction]], which is intra-document only.
    *
    * Scale design: lines are keyed by md5 digest, so the two shuffles
    * (line→doc-count, join back) carry 16-byte digests, never line
    * text; the per-doc reduction is map-side (a document's lines are
    * row-local before the explode). Returns (idCol, n_lines, n_boiler,
    * boiler_frac). */
  def interdocBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                          minDocs: Int = 2): DataFrame = {
    val lines = docs.select(col(idCol),
        explode(filter(split(col(textCol), "\n"), l => length(trim(l)) > lit(0)))
          .as("__line"))
      .select(col(idCol), md5(col("__line")).as("lh"))
    val docCounts = lines.distinct()
      .groupBy("lh").agg(count(lit(1)).as("docs_with"))
    lines.join(docCounts, Seq("lh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("docs_with") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_lines").cast("double"))
  }

  /** Rewrite documents with corpus-wide boilerplate lines REMOVED (the
    * transform [[interdocBoilerplate]] is the signal for): every
    * non-blank line appearing in ≥ `minDocs` distinct documents is
    * dropped, remaining lines keep their order.
    *
    * Scale design (the [[Dedup.dedupLinesGlobal]] pattern): the mining
    * shuffle carries (id, pos, 16-byte md5) triples — never line text,
    * and never a corpus-wide digest SET in one row (at crawl scale the
    * ≥2-doc shared-line set is unbounded: hundreds of millions of
    * digests would materialize as one multi-GB array cell on a single
    * task). Per-document drop-POSITION arrays come back through an
    * id-keyed join — size-gated broadcast ([[Dedup.maybeBroadcast]])
    * below the conf limit so document text never shuffles, plain
    * shuffle join above it (the corpus shuffles once by id — the price
    * of a crawl-scale boilerplate rate, instead of a driver OOM). Each
    * document then filters its own line array row-locally by position:
    * a probe over the document's OWN drop positions (bounded by its
    * line count), not an O(|corpus boilerplate set|) scan per line.
    * Returns (idCol, clean_text, n_kept). */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                             minDocs: Int = 2): DataFrame = {
    val lineArr = split(col(textCol), "\n")
    val lines = docs
      .select(col(idCol), posexplode(lineArr).as(Seq("__pos", "__line")))
      .where(length(trim(col("__line"))) > 0)
      .select(col(idCol), col("__pos"), md5(col("__line")).as("__lh"))
    // digest → distinct-doc count, digest-only shuffles; qualifying
    // digests stay a DATAFRAME (never collapsed into one row)
    val boilerLh = lines.select(col(idCol), col("__lh")).distinct()
      .groupBy("__lh").agg(count(lit(1)).as("__dw"))
      .where(col("__dw") >= minDocs)
      .select("__lh")
    // materialized so the gate's count reads the mined blocks, not a
    // second mining pass (same contract as dedupLinesGlobal)
    val dropPos = Checkpointing.truncate(lines
      .join(boilerLh, Seq("__lh"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__pos")).as("__drop"), count(lit(1)).as("__nd")))
    val dropCount = dropPos.agg(coalesce(sum("__nd"), lit(0L))).head().getLong(0)
    docs
      .join(Dedup.maybeBroadcast(dropPos.drop("__nd"), dropCount), Seq(idCol), "left")
      .select(col(idCol),
        filter(lineArr, (l, i) =>
          length(trim(l)) > lit(0) &&
            (col("__drop").isNull || !array_contains(col("__drop"), i))).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** WITHIN-document repetition removal — the REWRITE complement of
    * Gopher's duplicate-line/paragraph FILTERS (which only flag) and of
    * [[removeBoilerplateLines]] (which needs the corpus-wide count
    * shuffle): each document keeps only the FIRST occurrence of every
    * non-blank line it contains, remaining lines in original order.
    * Scraping artifacts (repeated nav blocks, duplicated body sections,
    * templated footers) repeat *within* a page; dropping them needs no
    * cross-document signal at all.
    *
    * Scale design: entirely row-local — one split + one order-preserving
    * `array_distinct` per document inside the scan's codegen stage, ZERO
    * shuffle at any corpus size (the cheapest class in the catalog,
    * q119/q133's). Blank lines are dropped (the [[removeBoilerplateLines]]
    * convention: output is the cleaned text, not a layout-preserving
    * diff). Returns (idCol, clean_text, n_kept, n_removed).
    *
    * Spark's `array_distinct` keeps elements in first-occurrence order —
    * the property the whole operator rests on; TextPipelineSpec pins it
    * against a hand-built keep-first fixture so an upstream semantics
    * change cannot slip through silently. */
  def removeRepeatedLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val linesOf = filter(split(col(textCol), "\n"), l => length(trim(l)) > lit(0))
    docs
      .select(col(idCol), linesOf.as("__lines"))
      .select(col(idCol), col("__lines"),
        array_distinct(col("__lines")).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__lines")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  // --- corpus-statistics quality signals (unigram LM) -------------------

  /** Corpus-relative unigram statistics per document — the quality signal
    * behind CCNet/C4-style LM filtering: documents dominated by rare or
    * out-of-vocabulary tokens are flagged by a low mean in-vocab token
    * probability and a high OOV fraction against the corpus's own top-K
    * vocabulary.
    *
    * Returns (idCol, n_tokens, n_oov, oov_frac, mean_vocab_p).
    *
    * Scale design: the vocabulary is the corpus's top-`vocabK` tokens —
    * `TakeOrderedAndProject`-shaped, then BROADCAST to the token scan;
    * per-document reduction happens map-side (a document's tokens are
    * row-local, so the partial aggregate collapses them before the one
    * shuffle, which carries one row per document). Probabilities sum
    * through DECIMAL(18,15) so the per-doc mean is exact and
    * order-independent (the differential-oracle discipline).
    *
    * For true surprisal/perplexity use [[unigramLogProb]] (libm log —
    * reproducible within an engine, last-ulp engine-specific). */
  def unigramStats(docs: DataFrame, idCol: String, textCol: String,
                   vocabK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col(idCol), explode(lowerTokens(col(textCol))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total_toks"))
    val top = freq.orderBy(col("cnt").desc, col("tok").asc).limit(vocabK)
    val scored = toks
      .join(broadcast(top), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .withColumn("p", col("cnt").cast("double") / col("total_toks").cast("double"))
    scored.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("p").cast(DecimalType(18, 15))).as("__sum_p"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_frac"),
        when(col("n_tokens") === col("n_oov"), lit(0.0))
          .otherwise(col("__sum_p").cast("double") /
            (col("n_tokens") - col("n_oov")).cast("double")).as("mean_vocab_p"))
  }

  /** Mean negative log-probability per document under the corpus unigram
    * LM with add-one smoothing for OOV — the actual surprisal score
    * (exp of it = unigram perplexity). Same plan shape as
    * [[unigramStats]]; uses libm log, so it is pinned by unit tests
    * rather than the cross-engine oracle. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     vocabK: Int = 1000): DataFrame = {
    val toks = docs.select(col(idCol), explode(lowerTokens(col(textCol))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total_toks"))
    val top = freq.orderBy(col("cnt").desc, col("tok").asc).limit(vocabK)
    toks
      .join(broadcast(top), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .withColumn("logp",
        log((coalesce(col("cnt"), lit(0L)).cast("double") + lit(1.0)) /
          (col("total_toks").cast("double") + lit(1.0))))
      .groupBy(col(idCol))
      .agg((-avg(col("logp"))).as("mean_neg_logp"),
        count(lit(1)).as("n_tokens"))
  }

  /** Per-document bigram-LM surprisal — the n-gram upgrade of
    * [[unigramLogProb]]'s quality signal: mean −ln p(w2|w1) over the
    * document's word bigrams under the corpus bigram model with
    * add-one smoothing, p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), where
    * c(w1) is w1's corpus unigram count and V the distinct-vocabulary
    * size. Both ln arguments are positive INTEGERS, so the logs run
    * through the bit-portable [[graft.functions.PortableLn]] series
    * and the per-doc sum through exact DECIMAL(38,12) — the whole
    * signal carries a full differential oracle where a libm-log LM
    * could not. Documents with fewer than two tokens emit no row.
    *
    * Returns (idCol, n_bigrams, surprisal).
    *
    * Scale design: the bigram count table is the classic LM-count job
    * (map-side partial agg, one (w1,w2)-keyed shuffle); the document
    * bigram stream then joins it and the unigram table by key — at
    * corpus scale both joins are shuffle joins on the gram keys (the
    * count tables are vocabulary², far too big to broadcast, and
    * that is the honest plan); V is a one-row broadcast.
    *
    * `materialize` trades the plan's THREE independent tokenize
    * subtrees (bigram stream, bigram counts, unigram counts — each a
    * full-corpus regex split, the round-7 verdict's flagged smell)
    * for ONE checkpoint-truncated (id, tokens) frame that all three
    * read back. Measured head-to-head (min-of-3, interleaved) in
    * SCALING.md, "Round-8 measurement: q118 (bigram LM) DOES
    * materialize its token stream". */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      materialize: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.PortableSketches.lnOfIntFast
    val tokFrame = {
      val t = docs.select(col(idCol), lowerTokens(col(textCol)).as("__ts"))
      // cache via the bounded registry, NOT Checkpointing.truncate:
      // under reliable checkpointing truncate would write one
      // never-released stable-storage copy of the token frame PER
      // CALL (this site has no rotation point) — the pqTopK leak
      // class. A cached frame is LRU-evicted, registry-bounded, and
      // keeps its lineage for fault recovery; the three consumers
      // still read one materialization.
      if (materialize) CachedFrames.cached(t) else t
    }
    val pairs = tokFrame
      .select(col(idCol), explode(
          when(size(col("__ts")) >= 2,
            transform(sequence(lit(1), size(col("__ts")) - 1),
              i => struct(element_at(col("__ts"), i).as("w1"),
                element_at(col("__ts"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("__p"))
      .select(col(idCol), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val uni = tokFrame.select(explode(col("__ts")).as("w1"))
    val uc = uni.groupBy("w1").agg(count(lit(1)).as("__ucnt"))
    // V is by definition uc's row count — aggregating the (already
    // vocabulary-sized) unigram table costs nothing, where a
    // count_distinct over the re-exploded token stream would be a
    // second corpus-wide scan + distinct shuffle
    val vocab = uc.agg(count(lit(1)).as("__vv"))
    val bc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("__bcnt"))
    pairs
      .join(bc, Seq("w1", "w2"))
      .join(uc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (lnOfIntFast(col("__bcnt") + 1L) -
          lnOfIntFast(col("__ucnt") + col("__vv"))).as("__logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum((-col("__logp")).cast(DecimalType(38, 12))).cast("double") /
          count(lit(1)).cast("double")).as("surprisal"))
  }

  // --- URL canonicalization (crawl dedup key) -------------------------

  /** The (pattern, replacement) chain of [[canonicalUrl]], exposed so
    * the DuckDB oracle interpolates the IDENTICAL regexes. Every
    * pattern is RE2-safe (no lookaround/backrefs in the PATTERN) so
    * Java regex and RE2 agree on it. Order matters: strip fragment →
    * drop tracking params → clean leftover separators → default ports.
    *
    * The port steps are ANCHORED to the authority: the prefix classes
    * `[^/?#]*?` cannot cross '/', '?', or '#', so a matched :80/:443
    * necessarily terminates the scheme://host region — a ":443/"
    * embedded in a path segment or a redirect-param URL (preceded by a
    * '/' the prefix can't span) no longer matches, where the old
    * unanchored global replace rewrote it and collapsed DISTINCT urls
    * onto one canonical key. */
  val UrlCanonSteps: Seq[(String, String)] = Seq(
    "#.*$" -> "",                                  // fragment
    "([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src)=[^&#]*" -> "$1", // tracking params, keep separator
    "&&+" -> "&",                                  // runs left by removals
    "\\?&" -> "?",                                 // ?&rest -> ?rest
    "[?&]+$" -> "",                                // dangling separators
    "/\\?" -> "?",                                 // slash before query
    "^([^/?#]*?(?://)?[^/?#]*?):(?:80|443)([/?])" -> "$1$2", // default ports (path/query follows)
    "^([^/?#]*?(?://)?[^/?#]*?):(?:80|443)$" -> "$1")        // default ports (bare host)

  /** Path-only steps of [[canonicalUrl]]: duplicate-slash collapse (the
    * scheme's `//` is protected by the preceding `:`) and trailing
    * slash. Applied to the substring BEFORE the first '?' only, so
    * slash noise inside a query VALUE (an embedded URL in a redirect
    * param, a path-valued param ending in '/') is preserved verbatim —
    * rewriting it would merge distinct urls. */
  val UrlPathSteps: Seq[(String, String)] = Seq(
    "([^:/])//+" -> "$1/",                         // duplicate path slashes
    "/$" -> "")                                    // trailing slash

  /** Canonical form of a URL column: lowercase scheme+host (the part
    * before the first path/query/fragment character), then the
    * [[UrlCanonSteps]] regex chain on the whole string, then
    * [[UrlPathSteps]] on the pre-'?' part with the query reattached
    * verbatim. The standard crawl-pipeline dedup
    * key — exact dedup on the RAW url misses the ~30-50% of crawl
    * duplicates that differ only in tracking params, fragments,
    * default ports, or case (the reason CC-style pipelines canonicalize
    * before URL-level dedup). Pure per-row column expressions; at
    * corpus scale the dedup itself is [[Dedup.exact]] on this column. */
  def canonicalUrl(url: Column): Column = {
    val hostLowered = concat(
      lower(regexp_extract(url, "^([^/?#]*//[^/?#]*)", 1)),
      regexp_replace(url, "^([^/?#]*//[^/?#]*)", ""))
    val canon = UrlCanonSteps.foldLeft(hostLowered) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    val path = UrlPathSteps.foldLeft(regexp_extract(canon, "^[^?]*", 0)) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    concat(path, regexp_extract(canon, "^[^?]*(\\?.*)$", 1))
  }

  // ---- collocation mining (PMI) -------------------------------------

  /** Corpus collocations by pointwise mutual information: adjacent
    * token pairs scored by how much more often they co-occur than
    * independence predicts —
    * `pmi = ln c_xy + 2·ln M − ln N − ln c_x − ln c_y`
    * (c_xy the pair count, c the unigram counts, M total tokens, N
    * total pairs). The phrase detector behind tokenizer-vocab prep and
    * query suggestion; a raw-count top-k would just return stopword
    * pairs, the PMI normalization is the operator.
    *
    * Portability discipline: every PMI term is the portable integer-ln
    * series ([[graft.functions.PortableSketches]]) of an exact count,
    * combined in one fixed expression-tree order, so the double is
    * bit-identical in any engine — the oracle can ORDER BY it.
    * `minCount` floors the pair count (PMI is degenerate on hapaxes:
    * a 1-of-each pair scores maximal), and the (pmi desc, w1, w2)
    * tiebreak makes the top-k a total order.
    *
    * Tokens are the raw space-split stream (the postings-index
    * discipline, q156/q157) with empties dropped. Scale: ONE corpus
    * pass — each token is emitted exactly once as `(w1, successor)`
    * with a NULL successor on the doc-final token, so unigram counts
    * (group by w1 over everything), pair counts (the non-null rows)
    * and both totals all derive from a single map-side-combined
    * vocab²-bounded aggregate. That table is bounded-cached: its four
    * consumers would otherwise each re-derive the corpus scan (the
    * five-scan plan the first formulation shipped, plan-dump-caught).
    * The unigram joins are vocab-keyed; the totals are 1-row
    * aggregates the optimizer broadcasts; top-k is
    * TakeOrderedAndProject, never a global sort.
    */
  def collocationsPmi(docs: DataFrame, textCol: String,
                      minCount: Long = 5L, k: Int = 50): DataFrame = {
    import graft.functions.PortableSketches.lnOfIntFast
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    val pairTable = CachedFrames.cached(docs
      .select(toks.as("__toks"))
      .where(size(col("__toks")) >= 1)
      .select(explode(expr(
        "transform(sequence(1, size(__toks)), " +
          "i -> struct(__toks[i-1] AS w1, " +
          "CASE WHEN i < size(__toks) THEN __toks[i] END AS w2))"))
        .as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy")))
    val pairs = pairTable.where(col("w2").isNotNull)
    val uni = pairTable.groupBy(col("w1").as("w"))
      .agg(sum(col("c_xy")).as("c"))
    val totals = uni.agg(sum(col("c")).as("__m"))
      .crossJoin(pairs.agg(sum(col("c_xy")).as("__n")))
    pairs.where(col("c_xy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("__cx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("__cy")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("c_xy"),
        ((((lnOfIntFast(col("c_xy")) + lit(2.0) * lnOfIntFast(col("__m")))
          - lnOfIntFast(col("__n")))
          - lnOfIntFast(col("__cx")))
          - lnOfIntFast(col("__cy"))).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Mirror of [[collocationsPmi]] for the DuckDB oracle — the same
    * count tables (adjacency spelled as the positional self-join) and
    * the same ln-term tree. `docsSql` must select `id, text` — the
    * explicit id keys the per-document adjacency join (a synthetic
    * `row_number() OVER ()` would depend on scan order). */
  def collocationsPmiSql(docsSql: String, minCount: Long = 5L,
                         k: Int = 50): String = {
    import graft.functions.PortableSketches.lnOfIntSql
    s"""WITH t AS (
       |  SELECT id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM ($docsSql)
       |), p AS (
       |  SELECT id AS doc, unnest(w) AS term,
       |         generate_subscripts(w, 1) AS pos
       |  FROM t
       |), bg AS (
       |  SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS c_xy
       |  FROM p a JOIN p b ON b.doc = a.doc AND b.pos = a.pos + 1
       |  GROUP BY 1, 2
       |), uni AS (
       |  SELECT term AS w, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1
       |), tot AS (
       |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS m,
       |         (SELECT CAST(sum(c_xy) AS BIGINT) FROM bg) AS n
       |)
       |SELECT bg.w1, bg.w2, bg.c_xy,
       |       ((((${lnOfIntSql("bg.c_xy")} + 2.0 * ${lnOfIntSql("tot.m")})
       |         - ${lnOfIntSql("tot.n")})
       |         - ${lnOfIntSql("cx.c")})
       |         - ${lnOfIntSql("cy.c")}) AS pmi
       |FROM bg
       |JOIN uni cx ON cx.w = bg.w1
       |JOIN uni cy ON cy.w = bg.w2, tot
       |WHERE bg.c_xy >= $minCount
       |ORDER BY pmi DESC, bg.w1, bg.w2
       |LIMIT $k""".stripMargin
  }

  // ---- mojibake (encoding-damage) detection + repair ----------------

  /** Mojibake markers this repo recognizes, as named constants (all in
    * explicit \u escapes -- several contain INVISIBLE C1 controls, so
    * raw literals are un-reviewable and editor-encoding-fragile).
    * UTF-8 text mis-read as Latin-1 turns \u00e9 (C3 A9) into
    * \u00c3\u00a9; mis-read as cp1252 it turns \u2019 (E2 80 99) into
    * \u00e2\u20ac\u2122 -- both flavors occur in real crawls (Latin-1
    * maps 0x80-0x9F to C1 controls, cp1252 to \u20ac\u2122\u0153). */
  val MojiQuoteL1: String = "\u00e2\u0080\u0099"   // '\u2019' read as Latin-1
  val MojiQuoteCp: String = "\u00e2\u20ac\u2122"   // '\u2019' read as cp1252
  val MojiLDQuoteL1: String = "\u00e2\u0080\u009c" // '\u201c' read as Latin-1
  val MojiLDQuoteCp: String = "\u00e2\u20ac\u0153" // '\u201c' read as cp1252
  val MojiAcute: String = "\u00c3\u00a9"            // '\u00e9'
  val MojiGrave: String = "\u00c3\u00a8"            // '\u00e8'
  val MojiUuml: String = "\u00c3\u00bc"             // '\u00fc'
  val MojiOuml: String = "\u00c3\u00b6"             // '\u00f6'
  val MojiNtilde: String = "\u00c3\u00b1"           // '\u00f1'

  /** The recoverable double-encoding artifacts this repo repairs,
    * LONGEST pattern first (the 3-char smart-quote sequences before
    * the 2-char accents). Each maps one mojibake character run back to
    * the intended code point; U+FFFD is detected but never "repaired"
    * -- the original byte is gone. */
  val MojibakeRepairs: Seq[(String, String)] = Seq(
    MojiQuoteL1 -> "\u2019", MojiQuoteCp -> "\u2019",
    MojiLDQuoteL1 -> "\u201c", MojiLDQuoteCp -> "\u201c",
    MojiAcute -> "\u00e9",
    MojiGrave -> "\u00e8",
    MojiUuml -> "\u00fc",
    MojiOuml -> "\u00f6",
    MojiNtilde -> "\u00f1")

  /** Detection regex over the repairable markers (alternation in the
    * same longest-first order — both engines' regex scans take the
    * leftmost-longest alternative the same way on these literals). */
  val MojibakePattern: String =
    MojibakeRepairs.map(_._1).map(java.util.regex.Pattern.quote)
      .map(p => p.stripPrefix("\\Q").stripSuffix("\\E"))
      .mkString("|")

  /** Count of repairable mojibake marker sequences in `text`. */
  def mojibakeCount(text: Column): Column =
    regexp_count(text, lit(MojibakePattern))

  /** Count of unrecoverable U+FFFD replacement characters. */
  def replacementCharCount(text: Column): Column =
    regexp_count(text, lit("�"))

  /** Repair the [[MojibakeRepairs]] sequences (a fixed longest-first
    * replace chain — row-local, zero shuffle; idempotent because no
    * repaired output contains a marker). */
  def repairMojibake(text: Column): Column =
    MojibakeRepairs.foldLeft(text) { case (c, (m, r)) =>
      replace(c, lit(m), lit(r))
    }

  /** DuckDB twin of [[repairMojibake]]: the identical replace chain in
    * the identical order over the SQL expression `expr`. */
  def repairMojibakeSql(expr: String): String =
    MojibakeRepairs.foldLeft(expr) { case (e, (m, r)) =>
      s"replace($e, '$m', '$r')"
    }

  /** DuckDB twin of [[mojibakeCount]] (regexp_extract_all length —
    * the literals carry no regex metacharacters, so non-overlapping
    * leftmost scans count identically in java.util.regex and RE2). */
  def mojibakeCountSql(expr: String): String =
    s"CAST(len(regexp_extract_all($expr, '$MojibakePattern')) AS BIGINT)"

  // ---- readability (Flesch reading ease) -----------------------------

  /** Flesch reading-ease ingredients as exact integer counts —
    * words (non-empty space tokens), sentences (terminal-punctuation
    * runs, floored at 1 so unpunctuated text scores as one sentence),
    * and syllables approximated as vowel GROUPS (`[aeiouy]+`, the
    * standard regex proxy; both engines' RE2-compatible scan counts
    * identical non-overlapping runs). Returns the three counts plus
    *
    *   flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
    *
    * — one fixed IEEE tree over the exact longs, so the score column
    * hashes cross-engine. Row-local, zero shuffle. Empty text (zero
    * words) yields a null score, never NaN.
    */
  def fleschReadingEase(text: Column): Seq[Column] = {
    val words = size(filter(split(text, " "), t => t =!= "")).cast("long")
    val sents = greatest(regexp_count(text, lit("[.!?]+")).cast("long"),
      lit(1L))
    val syll = regexp_count(lower(text), lit("[aeiouy]+")).cast("long")
    val score = when(words > 0,
      lit(206.835) -
        lit(1.015) * (words.cast("double") / sents.cast("double")) -
        lit(84.6) * (syll.cast("double") / words.cast("double")))
    Seq(words.as("n_words"), sents.as("n_sentences"),
      syll.as("n_syllables"), score.as("flesch"))
  }

  /** DuckDB twin of [[fleschReadingEase]] over the SQL expression
    * `expr` — emits the four column expressions (comma-joined). */
  def fleschReadingEaseSql(expr: String): String = {
    val words = s"CAST(len(list_filter(string_split($expr, ' '), " +
      "x -> x <> '')) AS BIGINT)"
    val sents = s"greatest(CAST(len(regexp_extract_all($expr, '[.!?]+')) " +
      "AS BIGINT), 1)"
    val syll = s"CAST(len(regexp_extract_all(lower($expr), '[aeiouy]+')) " +
      "AS BIGINT)"
    s"""$words AS n_words,
       |       $sents AS n_sentences,
       |       $syll AS n_syllables,
       |       CASE WHEN $words > 0 THEN
       |         206.835e0 -
       |           1.015e0 * (CAST($words AS DOUBLE) / CAST($sents AS DOUBLE)) -
       |           84.6e0 * (CAST($syll AS DOUBLE) / CAST($words AS DOUBLE))
       |       END AS flesch""".stripMargin
  }
}
