package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting. Everything is a
  * native Catalyst expression (no UDFs) — per-row, embarrassingly parallel,
  * no shuffle at all, so these run at scan speed on any corpus size.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(Dedup.tokens(text))

  /** BPE-ish token count: words, digits, and punctuation as separate tokens
    * (a cheap proxy for subword tokenizer cost estimation).
    */
  def bpeishTokens(text: Column): Column =
    call_function("regexp_extract_all", text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))

  /** Per-document quality metrics: length, token stats, punctuation and
    * stopword ratios — the standard cheap filters applied before expensive
    * dedup/training stages.
    */
  def qualityStats(docs: DataFrame): DataFrame =
    docs.select(Seq(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")) ++ ratioCols: _*)

  /** The three quality ratios over `text` — shared by [[qualityStats]] and
    * [[calibrationBins]] so the contracts can never drift.
    */
  private def ratioCols: Seq[Column] = {
    val toks = Dedup.tokens(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
    Seq(
      round(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        greatest(size(toks), lit(1)), 4).as("avg_token_len"),
      round(size(filter(toks, t => t.isin(stop.map(x => x: Any): _*))).cast("double") /
        greatest(size(toks), lit(1)), 4).as("stopword_ratio"),
      round((length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", "")))
        .cast("double") / greatest(length(col("text")), lit(1)), 4).as("punct_ratio"))
  }

  /** Composite 0..1 quality score from the stats — monotone in stopword
    * presence (fluency proxy), penalizing extreme token lengths and
    * punctuation density.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityStats(docs).select(col("doc_id"), qualityFromStats.as("quality"))

  /** The score formula over the [[qualityStats]] ratio columns — shared by
    * [[qualityScore]] and [[calibrationBins]] so the two contracts can
    * never drift.
    */
  private def qualityFromStats: Column =
    round(
      lit(1.0) / (lit(1.0) + exp(-(
        lit(-1.0)
          + col("stopword_ratio") * 8.0
          + when(col("avg_token_len").between(3.0, 8.0), 1.0).otherwise(-1.0)
          - col("punct_ratio") * 4.0))), 6)

  /** Calibration readout of the quality score against the language label
    * (pos = lang "en", the score's fluency heuristic is English-trained):
    * per predicted-probability decile, the exact support, positive count,
    * and the integer-e6 sum of predictions — n_pos/n vs sum_q_e6/(n·10⁶)
    * is the classic reliability diagram, left as client divisions so the
    * contract stays integer-exact. The ML-eval sibling of [[graft.RelationalQueries.aucScore]]:
    * AUC ranks, calibration checks the probabilities themselves.
    *
    * Scale: per-row scoring (no shuffle) into a ≤ `bins`-group map-side-
    * combined aggregate. The e6 snap is exact: the score is already
    * rounded to 6 decimals, so q·10⁶ sits on an integer.
    */
  def calibrationBins(docs: DataFrame, bins: Int = 10): DataFrame =
    docs.select((col("lang") === "en").as("pos") +: ratioCols: _*)
      .select(col("pos"), qualityFromStats.as("q"))
      .select(col("pos"),
        least(floor(col("q") * bins).cast("long"), lit(bins - 1L)).as("bin"),
        round(col("q") * 1000000).cast("long").as("q_e6"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("q_e6")).as("sum_q_e6"))

  /** Tokenizer-fertility audit: per language, the exact corpus totals of
    * BPE-ish subword tokens ([[bpeishTokens]]) vs whitespace words —
    * fertility (subwords per word) is the client's division. The
    * per-language cost screen every multilingual tokenizer evaluation
    * starts with: a language whose fertility is 2× pays 2× the context
    * budget for the same text.
    *
    * Scale: per-row counting into a ≤ |langs|-group map-side-combined
    * aggregate; one scan, no shuffle of text.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(bpeishTokens(col("text"))).cast("long").as("n_sub"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sub")).as("n_subwords"),
        sum(col("n_words")).as("n_words"))

  /** Within-document LINE deduplication — the classic intra-doc
    * boilerplate cleaner (repeated headers/footers/nav junk): every line
    * after its first occurrence in the SAME document is dropped, order
    * otherwise preserved, and the cleaned text re-joined. Pure per-row
    * HOF work (keep line i iff its first index IS i) — zero shuffle, runs
    * at scan speed; per-line cost is O(lines²) in the line count of one
    * document, bounded by document length, never by the corpus.
    * Returns (doc_id, n_lines, n_kept, fp_clean) — the fingerprint proves
    * the rebuilt text, not just counts.
    */
  def dedupLines(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), split(col(textCol), "\n").as("lines"))
      .select(col("doc_id"), col("lines"),
        filter(col("lines"), (l, i) => array_position(col("lines"), l) === i + 1)
          .as("kept"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), "\n")).as("fp_clean"))

  /** CROSS-document boilerplate line removal — the corpus-frequency
    * complement of [[dedupLines]] (which only sees one document at a
    * time): a line appearing in more than `maxDf` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, copyright footers — the
    * CCNet/RefinedWeb cleaning rule) and is dropped from every document;
    * within-doc repeats of a kept line survive. Returns the same
    * fingerprint-proved shape as [[dedupLines]]: (doc_id, n_lines,
    * n_kept, fp_clean) — the md5 certifies the rebuilt text byte-exactly.
    *
    * Scale: lines explode once; the document-frequency aggregate and the
    * stats join both shuffle on the line value (map-side combined — a
    * line's duplicates collapse before the wire), and the rebuild
    * re-aggregates on doc_id carrying (pos, kept-line) pairs. Nothing is
    * ever corpus × corpus; hot boilerplate lines are exactly the rows the
    * combiner collapses hardest.
    */
  def dropBoilerplateLines(docs: DataFrame, textCol: String = "text",
                           maxDf: Long = 2L): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val dfStats = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("dfc"))
    lines.join(dfStats, Seq("line"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("dfc") <= maxDf, 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("dfc") <= maxDf,
          struct(col("pos"), col("line"))))).as("ks"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(array_join(transform(col("ks"), k => k.getField("line")), "\n"))
          .as("fp_clean"))
  }

  /** Hashing-trick featurizer (feature hashing): every token folds into a
    * `dims`-wide sparse vector bucket via the portable hash, with a second
    * hash bit choosing ±1 so collisions cancel in expectation — the
    * classic constant-memory text featurizer (no vocabulary pass, no
    * dictionary to ship). Output is the sparse form (doc_id, bucket,
    * weight ≠ 0); exactly-cancelled buckets are dropped as true sparsity.
    *
    * Scale: tokenize + hash are per-row map work; the only shuffle is the
    * (doc_id, bucket) map-side-combined aggregate, carrying id/int rows.
    * No vocabulary join — the whole point of the trick at 100 TB.
    */
  def featureHash(docs: DataFrame, dims: Int = 256): DataFrame = {
    val h = graft.functions.PortableHash.hash60(concat(lit("fh_"), col("tok")))
    val sgn = when(pmod(graft.functions.PortableHash.hash60(
      concat(lit("fs_"), col("tok"))), lit(2L)) === 0L, 1L).otherwise(-1L)
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), pmod(h, lit(dims.toLong)).as("bucket"), sgn.as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0L)
  }

  /** n-gram-heuristic language ID: score each candidate language by hits of
    * its most frequent function words / character patterns, pick the argmax.
    * Deterministic, per-row, no shuffle. (A real system would use a trained
    * n-gram model; the *Spark shape* — per-row scoring against a broadcast
    * profile table — is what matters at scale.)
    */
  def langId(docs: DataFrame): DataFrame = {
    val profiles: Map[String, Seq[String]] = Map(
      "en" -> Seq(" the ", " and ", " of ", " is "),
      "de" -> Seq(" der ", " und ", " die ", " ist "),
      "es" -> Seq(" el ", " la ", " los ", " es "),
      "fr" -> Seq(" le ", " la ", " et ", " est "))
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scores = profiles.toSeq.sortBy(_._1).map { case (lang, pats) =>
      struct(
        pats.map(p => when(padded.contains(p), 1).otherwise(0)).reduce(_ + _).as("score"),
        lit(lang).as("lang"))
    }
    docs.select(col("doc_id"),
      when(array_max(array(scores: _*)).getField("score") > 0,
        array_max(array(scores: _*)).getField("lang")).otherwise("und").as("lang_pred"))
  }

  /** Repetition statistics — the standard web-crawl quality signal (share
    * of the document taken by its most frequent word bigram; heavily
    * repeated boilerplate scores high and gets filtered before training).
    * Relational formulation (explode → two-level aggregate), so it scales
    * as an ordinary pair of keyed aggregations.
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(Dedup.shingles(Dedup.tokens(col("text")), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6).as("top_share"))

  /** Inter-annotator agreement (Cohen's κ) between two independent binary
    * labeling rules — the standard label-quality audit run before trusting
    * any filter rule at corpus scale (κ near 0 means the rules agree no
    * better than chance and at least one is noise; κ near 1 means they are
    * redundant). Annotator A keeps a document when its stopword share is at
    * least 8% of tokens (the fluency rule, compared integer-exactly as
    * 10000·n_stop ≥ 800·n_tokens — no double ratio, no rounding tie);
    * annotator B keeps it when the padded text contains any English
    * function-word pattern (the [[langId]] en-profile hits). The 2×2
    * confusion is four BIGINT counts; κ = (N·agree − Σ marginal products) /
    * (N² − Σ marginal products) is one integer-derived double division,
    * bit-identical across engines, rounded at 6.
    *
    * Scale: two per-row boolean rules (zero shuffle) into a keyless
    * aggregate — map-side partials, four longs cross the exchange; the κ
    * arithmetic runs on the one-row result. The same shape audits ANY pair
    * of labeling rules (model-vs-model, rule-vs-human sample) at 100 TB.
    */
  def labelAgreement(docs: DataFrame): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
    val aKeep = size(filter(toks, t => t.isin(stop.map(x => x: Any): _*))).cast("long") * 10000L >=
      greatest(size(toks), lit(1)).cast("long") * 800L
    val padded = concat(lit(" "), col("text"), lit(" "))
    val bKeep = Seq(" the ", " and ", " of ", " is ")
      .map(p => padded.contains(p)).reduce(_ || _)
    val counts = docs
      .select(aKeep.cast("long").as("a"), bKeep.cast("long").as("b"))
      .agg(
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    kappaFromConfusion(counts)
  }

  /** Cohen's κ from a one-row 2×2 confusion frame (`n11 n10 n01 n00`
    * BIGINT). Split out of [[labelAgreement]] so the arithmetic can be
    * spec'd at counts where BIGINT products would overflow.
    *
    * κ denominator N² − Σ marginal products is 0 when both rules label
    * every document identically (all mass in one cell) — chance agreement
    * is total and κ is conventionally 0; guard it so ANSI never divides
    * 0/0 on a degenerate corpus.
    *
    * N² and the marginal products run in DECIMAL(38,0): BIGINT would
    * overflow at N ≳ 3.04e9 documents (a 100 TB corpus is ~10¹⁰) and ANSI
    * throws on long overflow. Decimal keeps the arithmetic exact up to
    * 38 digits; the cast to double happens only on the final ratio terms.
    */
  def kappaFromConfusion(counts: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val (d11, d10, d01, d00) = (dec(col("n11")), dec(col("n10")), dec(col("n01")), dec(col("n00")))
    val tot  = d11 + d10 + d01 + d00
    val marg = (d11 + d10) * (d11 + d01) + (d01 + d00) * (d10 + d00)
    val kNum = ((d11 + d00) * tot - marg).cast("double")
    val kDen = (tot * tot - marg).cast("double")
    counts.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(kDen === 0.0, 0.0).otherwise(round(kNum / kDen, 6)).as("kappa"))
  }

  /** Content fingerprint: digest of whitespace-normalized lowercased text —
    * stable under formatting noise; the key for exact-ish dedup joins.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))

  /** Rolling-hash (Rabin-Karp style) fingerprint over token sequence:
    * positional, order-sensitive — distinguishes permuted documents that a
    * bag-of-words digest would conflate. Computed with the `aggregate` HOF
    * so it stays codegen'd. Arithmetic kept inside a Mersenne-prime field so
    * ANSI mode (Spark 4 default) never sees an overflow; token hashes use
    * the engine-portable md5-derived hash so the DuckDB oracle reproduces
    * the exact fingerprint (`list_reduce` over the same fold).
    */
  def rollingFingerprint(docs: DataFrame): DataFrame = {
    val m = 2147483647L // 2^31 − 1
    docs.select(col("doc_id"),
      aggregate(Dedup.tokens(col("text")), lit(0L),
        (acc, t) => pmod(acc * 1000003L +
          pmod(graft.functions.PortableHash.hash60(t), lit(m)), lit(m))).as("rolling_fp"))
  }

  /** Corpus vocabulary — the tokenizer-training input: every token with its
    * term frequency (total occurrences) and document frequency, thresholded
    * at `minCount` occurrences, top-`k` by (tf desc, token asc) — a total
    * order, so the cut is deterministic across engines and runs.
    *
    * Shape: one explode + one groupBy(token); tf partial-aggregates
    * map-side, df is a distinct-aggregate (Catalyst's expand) keyed by the
    * token — a hot stopword costs a combiner cell, not a skewed reducer.
    * The top-k compiles to TakeOrdered (per-partition heads), never a
    * global sort.
    */
  def vocabulary(docs: DataFrame, minCount: Long = 2L, k: Int = 1000): DataFrame =
    Dedup.rebalance(docs)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .filter(col("tf") >= minCount)
      .orderBy(col("tf").desc, col("token")).limit(k)

  /** Count-min-sketch heavy hitters over word n-grams — the bounded-memory
    * hot-key detector (Cormode & Muthukrishnan, J.Algorithms 55(1), 2005):
    * `depth` portable hash rows of `width` counters each, estimate =
    * min over rows of the landed bucket's count, top-`k` n-grams by
    * (estimate desc, ngram asc) — a total order, deterministic cut.
    *
    * The sketch uses [[graft.functions.PortableHash]] (md5-derived, salted
    * per row) so the DuckDB oracle replays the SKETCH itself — collisions,
    * overestimates and all — not an error band: exact cross-engine contract
    * for an approximate structure, same stance as the KMV family.
    *
    * Scale shape: the sketch build is one map-side-combined groupBy whose
    * post-shuffle cardinality is ≤ depth·width rows REGARDLESS of corpus
    * size — that boundedness is the whole point of CMS at 100 TB (exact
    * per-key counting shuffles the full key space; the sketch shuffles a
    * constant). The candidate enumeration still distincts the n-gram space
    * (unavoidable: something must name the keys); its probe broadcasts the
    * tiny sketch and the final min-agg reuses the distinct's hash
    * partitioning, so no second key-space shuffle. The n-gram frame is
    * cached once (registered in [[InternalCaches]]) to feed both passes.
    */
  def heavyHitters(docs: DataFrame, n: Int = 3, depth: Int = 4,
                   width: Int = 1024, k: Int = 100): DataFrame = {
    val tri = InternalCaches.register(Dedup.rebalance(docs)
      .select(explode(Dedup.shingles(Dedup.tokens(col("text")), n)).as("ngram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // (row, bucket) landing sites for the ngram column of the current frame
    def sites: Column = explode(cmsSites(col("ngram"), depth, width))
    val sketch = tri.select(sites.as("rb"))
      .select(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("cnt"))
    tri.distinct()
      .select(col("ngram"), sites.as("rb"))
      .select(col("ngram"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("ngram")).agg(min(col("cnt")).as("cms_count"))
      .orderBy(col("cms_count").desc, col("ngram")).limit(k)
  }

  /** Bigram language-model commonness score: the corpus bigram frequency
    * table joined back onto each document's bigrams — `freq_sum / n_bigrams`
    * is the doc's mean phrase frequency, the integer-exact analog of an
    * n-gram LM log-likelihood (log-free so the contract is BIGINT-exact
    * cross-engine; callers wanting log-probs divide/log the two integers).
    * Common-phrasing docs score high, gibberish scores near 1·n — the
    * cheap fluency signal next to `text_quality_score`/`text_repetition`.
    *
    * STRICT bigrams (docs under 2 tokens score 0/0 but stay in the
    * output), unlike [[Dedup.shingles]]' short-doc whole-text convention —
    * an LM has no estimate for a phrase that cannot occur.
    *
    * Plan: the exploded bigram frame is built once (cached, registered);
    * the frequency table is a map-side-combined count; the join-back is
    * AQE-skew-safe (hot bigrams split like `ngram_dupfrac`'s hot
    * shingles); the final per-doc aggregate carries (doc_id, count) longs
    * only. No text crosses a shuffle except the bigram strings themselves.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val t = Dedup.tokens(col("text"))
    val bgs = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    val bg = InternalCaches.register(Dedup.rebalance(docs)
      .select(col("doc_id"), explode(bgs).as("bg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cnt = bg.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val per = bg.join(cnt, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("c")).as("fs"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("fs"), lit(0L)).as("freq_sum"))
  }

  /** Corpus collocation mining: adjacent token pairs whose co-occurrence
    * beats `liftNum`× the independence expectation, decided by exact
    * integer cross-multiplication — `n_pair · n_tokens ≥ liftNum · n_w1 ·
    * n_w2` — plus a minimum pair count. No logs, no PMI doubles: the
    * lift inequality IS the contract, so both engines agree bit-for-bit.
    *
    * One tokenization pass feeds both count sides (the cached token
    * frame); the pair count prunes with `minPair` BEFORE the vocabulary
    * joins, so only already-frequent bigrams join the unigram counts.
    * The scalar total joins via a bounded 1-row aggregate. At extreme
    * corpus scale (counts ≥ ~10^6 each) the cross-product would need
    * 128-bit arithmetic — the structure (two map-side-combined counts +
    * one pruned join) is the part that scales; widen the compare there.
    */
  def collocations(docs: DataFrame, minPair: Long = 5L, liftNum: Long = 20L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toked = InternalCaches.register(Dedup.rebalance(docs)
      .select(Dedup.tokens(col("text")).as("t")).persist(lvl))
    val uni = toked.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nTok = toked.agg(sum(size(col("t"))).cast("long").as("n_tokens"))
    val pairs = toked.select(explode(when(size(col("t")) >= 2,
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPair)
    pairs
      .join(uni.select(col("w").as("w1"), col("c1").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c1").as("n_w2")), Seq("w2"))
      .crossJoin(nTok) // 1-row bounded aggregate: a deliberate scalar fan-in
      .filter(col("n_pair") * col("n_tokens") >= lit(liftNum) * col("n_w1") * col("n_w2"))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"), col("n_tokens"))
  }

  /** The CMS landing sites of one n-gram: array of `depth` (row, bucket)
    * structs, bucket = portable salted hash mod `width`.
    */
  private[graft] def cmsSites(ngram: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(j => struct(
      lit(j).as("row"),
      pmod(graft.functions.PortableHash.hash60(
        concat(lit(s"cms$j|"), ngram)), lit(width.toLong)).as("bucket"))): _*)

  /** PII patterns shared by [[redactPii]] and [[piiStats]]. Deliberately
    * restricted to syntax valid in BOTH java.util.regex and RE2 (no
    * lookaround, no backreferences) so the DuckDB oracle — and any RE2-based
    * production scrubber — matches the identical spans.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction: emails, dotted-quad IPs, and NNN-NNN-NNNN phone numbers
    * replaced by typed placeholders. Email redaction runs first so an
    * address like `ops@10.0.0.1` is scrubbed whole rather than leaving a
    * bare `<at>`-less IP fragment. Pure per-row codegen'd expressions —
    * zero shuffle at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  /** Per-document PII accounting: match counts per category (on the
    * original text) plus a digest of the redacted text — the audit record a
    * compliance pipeline keeps when the redacted corpus itself ships
    * elsewhere.
    */
  def piiStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ipv4"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      md5(redactPii(col("text"))).as("redacted_digest"))

  /** Per-document keyphrase extraction: the top-k 2-word shingles ranked
    * by the EXACT integer tf·idf surrogate score = tf·10⁶ div df — high
    * in-document frequency, low corpus frequency — ties broken by the
    * lexicographically smallest phrase (binary collation on both
    * engines). Corpus-wide boilerplate (high df) down-ranks naturally, so
    * no stopword list is needed. The labeling/tagging pass a curation
    * pipeline runs before topic bucketing.
    *
    * Scale: one doc×shingle aggregate (cached — consumed by the df
    * aggregate AND the join-back), one aggregate-sized df join (AQE skews
    * hot phrases), one per-document window over that document's own
    * shingles. Phrase STRINGS do cross the shuffle here by design — the
    * output is text; the dedup family keeps its hashed discipline.
    */
  def docKeyphrases(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = InternalCaches.register(Dedup.rebalance(docs)
      .select(col("doc_id"), explode(Dedup.shingles(Dedup.tokens(col("text")), 2)).as("p"))
      .groupBy(col("doc_id"), col("p")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfr = tf.groupBy(col("p")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("p"))
    tf.join(dfr, Seq("p"))
      .select(col("doc_id"), col("p"), col("tf"), col("df"),
        expr("(tf * 1000000) div df").as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("p").as("keyphrase"), col("tf"), col("df"), col("rk"))
  }
}
