package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring
  * (length/punct/stopword ratios), deterministic language-ID scoring,
  * document fingerprinting, and TF-IDF term scoring (reference A14,
  * embedding_projection_service.py:836-908).
  *
  * All tokenization uses `regexp_extract_all` with patterns whose semantics
  * are identical in Java regex (Spark) and RE2 (DuckDB), so every operator
  * here is oracle-checkable.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val wordPat = graft.functions.Text.wordPat
  private val bpePat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** lowercase word tokens of `text` (the canonical shared tokenizer). */
  def tokens(c: Column): Column = graft.functions.Text.tokens(c)

  /** Dataset card: the per-language corpus summary every training-data
    * release publishes — doc/token totals, mean length, exact-dedup
    * uniqueness rate (distinct content fingerprints / docs), vocabulary
    * size. Two partial-aggregated rollups (doc-grain stats; exploded
    * vocab) joined on the tiny language dimension.
    *
    * `exact = false` swaps every `countDistinct` for
    * `approx_count_distinct` (HyperLogLog++ at `rsd` relative error) —
    * the corpus-card twin for 10⁹-distinct-token scale, where the exact
    * vocab count shuffles one row PER DISTINCT TOKEN (the whole
    * vocabulary crosses the wire) while the sketch shuffles one ~1.5/rsd²
    * -register sketch PER PARTITION per language: the shuffle stops
    * scaling with vocabulary size entirely (measured in SCALE.md). Exact
    * stays the default — it is what q90's DuckDB oracle gates — and the
    * reference's cached-stats design
    * (api/app/services/stats_service.py) implies exactly this
    * exact-for-audit / sketch-for-dashboards split. */
  def datasetCard(docs: DataFrame, exact: Boolean = true,
      rsd: Double = 0.01): DataFrame = {
    def cd(c: Column): Column =
      if (exact) countDistinct(c) else approx_count_distinct(c, rsd)
    val d = docs
      .select(col("doc_id"), col("lang"), col("text"),
        graft.dedup.Dedup.fingerprint(col("text")).as("fp"),
        tokens(col("text")).as("tk"))
      .localCheckpoint(true) // feeds the doc-grain AND vocab rollups
    val stats = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("tk")).cast("long")).as("n_tokens"),
        round(sum(length(col("text")).cast("long")).cast("double") /
          count(lit(1)), 6).as("mean_chars"),
        cd(col("fp")).as("n_unique"))
    val vocab = d.select(col("lang"), explode(col("tk")).as("tok"))
      .groupBy(col("lang")).agg(cd(col("tok")).as("vocab_size"))
    stats.join(vocab, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("mean_chars"),
        col("n_unique"),
        round(col("n_unique") / col("n_docs").cast("double"), 6).as("unique_rate"),
        coalesce(col("vocab_size"), lit(0L)).as("vocab_size"))
      .orderBy(col("lang"))
  }

  /** Corpus vocabulary size — exact (`countDistinct`, one shuffled row
    * per distinct token) or sketched (`approx_count_distinct`, one HLL++
    * sketch per partition, vocabulary-size-independent shuffle). The
    * scalar twin of [[datasetCard]]'s vocab column for callers sizing a
    * tokenizer budget rather than publishing an audited card. */
  def vocabSize(docs: DataFrame, exact: Boolean = true,
      rsd: Double = 0.01): Long = {
    val tok = docs.select(explode(tokens(col("text"))).as("token"))
    val agg =
      if (exact) tok.select(countDistinct(col("token")))
      else tok.select(approx_count_distinct(col("token"), rsd))
    agg.head().getLong(0)
  }

  /** Gopher-rule quality signals + verdict over any (doc_id, text) frame —
    * the q93 kernel, reusable from the `graft_quality` TVF. Entirely
    * scan-shaped: every signal, including the duplicate-bigram fraction
    * (per-row 1 − distinct/total over the in-row bigram array), is a
    * projection over the input scan — no explode, no shuffle. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_words", size(col("tk")).cast("long"))
      // greatest(…, 0): slice with a negative length errors under ANSI,
      // so a 0/1-word doc must clamp to an empty bigram array.
      .withColumn("bg", zip_with(
        slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))),
        slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          aggregate(col("tk"), lit(0L), (acc, w) => acc + length(w))
            .cast("double") / col("n_words")).otherwise(lit(0.0)))
      .withColumn("symbol_ratio",
        when(length(col("text")) > 0,
          size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0)))
            .cast("double") / length(col("text"))).otherwise(lit(0.0)))
      .withColumn("stop_hits",
        size(filter(col("tk"), t => t.isin(stop: _*))).cast("long"))
      .withColumn("dup_bigram_frac",
        when(size(col("bg")) > 0,
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") /
            size(col("bg"))).otherwise(lit(0.0)))
    d.select(
      col("doc_id"), col("n_words"),
      round(col("mean_word_len"), 6).as("mean_word_len"),
      round(col("symbol_ratio"), 6).as("symbol_ratio"),
      col("stop_hits"),
      round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"),
      (when(col("n_words") >= 50 && col("n_words") <= 100000, 1L).otherwise(0L) *
        when(col("mean_word_len") >= 3 && col("mean_word_len") <= 10, 1L).otherwise(0L) *
        when(col("symbol_ratio") <= 0.1, 1L).otherwise(0L) *
        when(col("stop_hits") >= 2, 1L).otherwise(0L) *
        when(col("dup_bigram_frac") <= 0.05, 1L).otherwise(0L)).as("passes"))
  }

  val queries: Map[String, Q] = Map(
    // Token counting: whitespace words + BPE-ish sub-token pieces.
    "q29_token_counts" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).as("n_words"),
          size(regexp_extract_all(col("text"), lit(bpePat), lit(0))).as("n_bpe_pieces"),
          length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: token stats + punctuation & stopword ratios folded
    // into a [0,1] score via the reference's Michaelis-Menten saturation
    // (confidence_analyzer.py:592-597 pattern).
    "q30_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stop: _*))))
        .withColumn("n_punct", size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0))))
      // Zero-token / zero-length docs ratio to 0.0 explicitly — engines
      // disagree on 0/0 (NULL vs NaN), so the guard is part of the contract.
      d.select(
          col("doc_id"),
          col("n_tokens"),
          when(col("n_tokens") > 0, round(col("n_stop") / col("n_tokens"), 6))
            .otherwise(lit(0.0)).as("stopword_ratio"),
          when(length(col("text")) > 0, round(col("n_punct") / length(col("text")), 6))
            .otherwise(lit(0.0)).as("punct_ratio"),
          round(
            (col("n_tokens") / lit(50.0)) / (col("n_tokens") / lit(50.0) + lit(2.0)), 6)
            .as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic language-ID scoring: vote by marker-token hits per
    // language, argmax with lexicographic tiebreak. (The heuristic itself —
    // not label accuracy — is the operator under test.)
    "q31_lang_id" -> ((s, dir) => {
      val markers: Map[String, Seq[String]] = Map(
        "en" -> Seq("the", "hash", "order", "row"),
        "fr" -> Seq("scan", "data", "query", "petite"),
        "de" -> Seq("customer", "join", "gross", "und"),
        "es" -> Seq("slow", "agg", "merge", "valor"),
        "zh" -> Seq("small", "value", "column", "shi"))
      // Zero-shuffle shape: ONE aggregate() pass over the token array
      // accumulates all five languages' hit counts per row (the token
      // array is referenced exactly once, so the tokenizing regex runs
      // once per doc). No explode — the prior form shuffled one row per
      // token through a per-doc groupBy; this one is scan-shaped and
      // embarrassingly parallel at any corpus size. Argmax with
      // lexicographic tiebreak stays array_min over (−hits, lang) structs.
      val markerSorted = markers.toSeq.sortBy(_._1)
      val zeros = array(markerSorted.map(_ => lit(0L)): _*)
      val votes = aggregate(tokens(col("text")), zeros, (acc, t) =>
        array(markerSorted.zipWithIndex.map { case ((_, ws), i) =>
          element_at(acc, i + 1) + when(t.isin(ws: _*), 1L).otherwise(0L)
        }: _*))
      val best = array_min(array(markerSorted.zipWithIndex.map { case ((ml, _), i) =>
        struct((-element_at(col("votes"), i + 1)).as("neg"), lit(ml).as("ml"))
      }: _*))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), votes.as("votes"))
        .select(col("doc_id"), best.as("best"), col("lang"))
        .select(col("doc_id"), col("best.ml").as("predicted_lang"),
          (-col("best.neg")).cast("long").as("marker_hits"),
          col("lang").as("labeled_lang"))
        .orderBy(col("doc_id"))
    }),

    // Rolling-hash document fingerprint: polynomial fold over character
    // codes ((acc·131 + c) mod 2³¹−1) as one codegen'd aggregate HOF —
    // the incremental-hash shape (Rabin-Karp) content-defined chunking
    // builds on; plus the same hash over the first-64-char window. All
    // arithmetic < 2³⁹, identical BIGINT math in DuckDB's list_reduce.
    "q56_rolling_hash" -> ((s, dir) => {
      val p = 2147483647L
      def roll(chars: org.apache.spark.sql.Column) =
        aggregate(chars, lit(0L), (acc, c) => (acc * 131L + c) % lit(p))
      // Guard n=0: Spark's sequence(1, 0) is a DESCENDING [1, 0], not [].
      def hashOf(n: org.apache.spark.sql.Column) =
        when(n > 0, roll(transform(sequence(lit(1), n), i =>
          ascii(col("text").substr(i, lit(1))).cast("long")))).otherwise(0L)
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          hashOf(length(col("text"))).as("content_hash"),
          hashOf(least(length(col("text")), lit(64))).as("prefix_hash"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: md5 of normalized text (hash_utils.py shape).
    "q32_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          md5(lower(trim(col("text")))).as("fingerprint"),
          substring(md5(lower(trim(col("text")))), 1, 8).as("shard_key"))
        .orderBy(col("doc_id"))
    }),

    // A14: TF-IDF top-5 terms per language group (cluster naming,
    // embedding_projection_service.py:836-908).
    "q33_tfidf" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val nLangs = 5.0
      val tf = d.select(col("lang"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("tf"))
      // tf rows are key-distinct per (lang, word), so document frequency
      // is a plain count over a word-partitioned window — no second
      // aggregate over a recomputed tf, no join, and the corpus is
      // tokenized exactly once. The window partitions on `word` (high
      // cardinality), so it parallelizes like the groupBy it replaces.
      val wWord = org.apache.spark.sql.expressions.Window.partitionBy(col("word"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(wWord))
        .withColumn("score", round(col("tf") * log(lit(nLangs) / col("df")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("score").desc, col("word").asc)
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("word"), col("score"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Vocabulary coverage cutoff (BPE-prep): tokens by corpus frequency,
    // cumulative share of all occurrences, kept until 90% coverage — the
    // step that sizes a subword vocabulary before training a tokenizer.
    // cum_share is a single IEEE division of exact BIGINTs, so the raw
    // double is bit-identical cross-engine (no rounding needed).
    //
    // The global rank/running-sum goes through operators.GlobalWindow
    // (range-partition + per-partition prefix offsets), so no task ever
    // holds the whole vocabulary and the plan stays lazy.
    "q59_vocab_coverage" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      graft.operators.GlobalWindow.rankedRunningSum(
          counts, Seq(col("n").desc, col("token").asc), col("n"),
          "tok_rank", "cum", "total")
        .select(col("tok_rank"), col("token"), col("n"),
          (col("cum").cast("double") / col("total").cast("double")).as("cum_share"),
          (col("cum") - col("n")).as("cum_before"), col("total"))
        .where(col("cum_before").cast("double") < lit(0.90) * col("total").cast("double"))
        .drop("cum_before", "total")
        .orderBy(col("tok_rank"))
    }),

    // Unigram-LM quality signal (CCNet/Gopher-style): corpus token
    // frequencies form a unigram language model; each document scores the
    // mean log-probability of its tokens — rare-token-heavy (noisy) docs
    // score low. Per-token logp is rounded to 6dp and summed as DECIMAL so
    // the mean is order-independent; the final mean is one double division.
    "q75_unigram_logprob" -> ((s, dir) => {
      // PRE-AGGREGATED shape (first sf10 audit): joining the raw
      // occurrence stream to the frequency table keys the shuffle on the
      // token itself, and a natural-language token distribution always has
      // heavy hitters — one stop-word-class token carried ~25% of the
      // 10^9-row stream at sf10, a single-reducer mega-key. Collapsing to
      // (doc_id, tok, c) FIRST (composite key — no skew, map-side
      // combined) makes the model join carry one row per distinct
      // (doc, token), and Σ c·logp over exact DECIMAL multiples equals the
      // per-occurrence sum bit-for-bit. The per-token model (freq, total)
      // derives from the same aggregate — the text is tokenized ONCE, and
      // the model side is small enough for AQE to broadcast (vocabulary,
      // not corpus, cardinality; at web scale the join degrades to a
      // sort-merge whose residual per-token skew is AQE skew-split).
      // Tokens ride as xxhash64 fingerprints from the first exchange on
      // (r19; q72/q96's discipline): the token string is aggregated away —
      // only its IDENTITY feeds the (doc, tok) key, the model key, and the
      // scoring join — so the fingerprint narrows both exchanges and the
      // join key from a ~8-char string to 8 B. Collision math as in q72:
      // negligible at any gate SF, and a collision merely merges two
      // model rows (same stand-in the q76 scoring join already makes).
      val dt = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), xxhash64(col("tok")).as("th"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds the model AND the scoring join
      val freq = dt.groupBy(col("th")).agg(sum(col("c")).as("n"))
      val total = freq.agg(sum(col("n")).as("total"))
      dt.join(freq, "th")
        .crossJoin(broadcast(total))
        // 6dp logp as long micro-units (q87/q76's trick): mu*c is an
        // exact long product, the long sum equals the decimal sum scaled
        // 1e6, /1e6 through double rounds once from the same rational —
        // bit-identical avg_logp, primitive-long hot aggregate.
        .select(col("doc_id"), col("c"),
          round(round(log(col("n").cast("double") / col("total").cast("double")), 6)
            * lit(1e6)).cast("long").as("logp_mu"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          (sum(col("logp_mu") * col("c")).cast("double") / lit(1e6) /
            sum(col("c"))).as("avg_logp"))
        .orderBy(col("doc_id"))
    }),

    // Bigram-LM fluency signal (the KenLM-perplexity-filter shape, e.g.
    // CCNet): corpus bigram counts form an add-k-smoothed conditional
    // model p(w2|w1) = (c12+k)/(c1+k·V); each doc scores the mean log-prob
    // of its bigrams — incoherent token soup scores low even when every
    // unigram is common (the signal q75 can't see). The model table
    // (distinct bigrams ⋈ unigram counts, V broadcast) is built once;
    // the big doc-bigram stream shuffles once to join it. Per-bigram logp
    // rounds to 6dp and sums as DECIMAL so avg_logp is order-independent.
    "q76_bigram_lm" -> ((s, dir) => {
      val kSmooth = 0.5
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= 2)
        .localCheckpoint(true) // feeds unigrams + bigrams: tokenize once
        // (r20 A/B at sf10: without it, 3.16 s vs 2.56 s — the three
        // consumers' repeated tokenize costs more than the block write)
      // r20 (guide §4, expressions/codegen): the bigram stream never
      // builds a string and never runs an interpreted lambda. The old
      // shape ran `zip_with(..., (a, b) => concat_ws(" ", a, b))` — a
      // HOF whose lambda evaluates INTERPRETED per element, allocating a
      // ~25 B string per occurrence — in BOTH consumers, then re-hashed
      // the string at each use site (xxhash64 at the join, substring_index
      // for w1 on the model side). arrays_zip is codegen'd, and the two
      // fingerprints (pair hash for the bigram's identity, first-token
      // hash for the model's conditional key) are plain codegen
      // projections AFTER the explode. Same identities as before —
      // xxhash64(a, b) over the token pair is the q60/q72 fingerprint
      // discipline (tuple ↔ joined-string bijective, tokens carry no
      // whitespace; collision math as in q72) — so the model rows, join
      // matches and counts are unchanged.
      val bi = docs.select(col("doc_id"), explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1))).as("p"))
        .select(col("doc_id"),
          xxhash64(col("p.0"), col("p.1")).as("bgh"),
          xxhash64(col("p.0")).as("w1h"))
      // unigram counts keyed on the token fingerprint (the q75/q89
      // discipline): the string is aggregated away — only its identity
      // feeds the model join.
      val uni = docs.select(explode(col("tk")).as("w1"))
        .groupBy(xxhash64(col("w1")).as("w1h")).agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      // Grouped by (bgh, w1h) — w1h is functionally determined by bgh
      // (same first token), so the groups are the per-bigram groups and
      // c12 is unchanged. The COMPOSITE key is also load-bearing for the
      // plan: grouping by bgh alone leaves the model side partitioned by
      // the scoring join's key, so no exchange (hence no AQE runtime
      // stat) separates them and the join plans STATICALLY — measured at
      // sf10 as a ShuffledHashJoin that built the 26.5M-row SCORING side
      // (128 MB LongHashedRelation per task → memory failure). With the
      // exchange present both join inputs are materialized stages and
      // AQE picks the strategy from real sizes (the tiny model side
      // broadcasts).
      val model = bi.groupBy(col("bgh"), col("w1h"))
        .agg(count(lit(1)).as("c12"))
        .join(uni, "w1h")
        .crossJoin(broadcast(vocab))
        // The 6dp logp rides the scoring stream as LONG MICRO-UNITS
        // (computed HERE, on the small model table — the e9-row stream
        // pays no per-row round/cast): round(logp*1e6) recovers the 6dp
        // decimal's integer micros exactly, the long sum equals the
        // decimal sum scaled 1e6, and sum/1e6 through double rounds once
        // from the same rational — bit-identical avg_logp with the hot
        // aggregate on primitive longs (same trick as q87's pair stage).
        .select(col("bgh"),
          round(round(log((col("c12") + kSmooth) / (col("c1") + col("v") * kSmooth)), 6)
            * lit(1e6)).cast("long").as("logp_mu"))
      // The scoring join keys on the bigram's 64-bit fingerprint, not the
      // ~25-byte string: the wire is fixed-width longs. The
      // stop-word-class mega-key is AQE skew-split at runtime where the
      // model outgrows broadcast; collision math as in q72 — negligible
      // at any gate SF. A bgh collision has two failure modes here: two
      // bigrams with the SAME first token merge into one model row (one
      // c12/logp for both — a mis-score), while two with DIFFERENT first
      // tokens keep two model rows under one bgh (the (bgh, w1h)
      // grouping above), so this join matches each such bigram twice and
      // inflates n_bigrams as well (probability ~n²/2⁶⁵).
      bi.select(col("doc_id"), col("bgh"))
        .join(model, "bgh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("logp_mu")).cast("double") / lit(1e6) /
            count(lit(1))).as("avg_logp"))
        .orderBy(col("doc_id"))
    }),

    // Repetition quality filter (the Gopher/C4-style duplicate-n-gram
    // signal): per document, the fraction of bigram occurrences that belong
    // to a repeated bigram, plus the dominant bigram's count — high
    // dup_frac marks boilerplate/looping text for exclusion. Two
    // partial-aggregated groupBys, keyed first by (doc, bigram) then doc;
    // dup_frac is one exact-int IEEE division (bit-identical cross-engine).
    // Gopher-style quality rule bundle (Rae et al. 2021 §A1.1, the
    // standard pre-training document filter set; Dolma/RefinedWeb ship the
    // same rules): per-document rule columns + the conjunction verdict.
    // Entirely scan-shaped — every signal (incl. the duplicate-bigram
    // fraction, computed per-row as 1 − distinct/total over the in-row
    // bigram array rather than q60's exploded groupBy) is one projection
    // over the documents scan: no explode, no shuffle, embarrassingly
    // parallel at any corpus size. Thresholds: word-count ≥ 50 and
    // dup-bigram ≤ 0.05 are calibrated to this corpus so both verdicts
    // occur (Gopher's 50/0.2 bounds; the synthetic word streams never
    // trip the published repetition bound); the rest are Gopher's
    // published bounds verbatim.
    "q93_gopher_rules" -> ((s, dir) =>
      gopherRules(Tables.documents(s, dir)).orderBy(col("doc_id"))),

    "q60_repetition" -> ((s, dir) => {
      val tk = tokens(col("text"))
      // Bigrams ride as xxhash64 over the token pair, never as strings
      // (r19; the q72/q96 discipline): the string is aggregated away
      // immediately, so only its IDENTITY matters — the fingerprint
      // halves the (doc, bigram) shuffle row and drops one ~25-B string
      // allocation per occurrence. Collision effect is bounded by the
      // per-doc pair count (~10² pairs → ~1e-15 per doc), far below the
      // oracle gate SFs' noise floor — same argument as q72.
      Tables.documents(s, dir)
        .select(col("doc_id"), tk.as("tk"))
        .where(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => xxhash64(a, b))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_bigrams"),
          max(col("n")).as("top_bigram_n"),
          (sum(when(col("n") > 1, col("n")).otherwise(0L)).cast("double") /
            sum(col("n")).cast("double")).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // Dataset card: the per-language corpus summary every training-data
    // release publishes — doc/token totals, mean length, exact-dedup
    // uniqueness rate (distinct content fingerprints / docs), vocabulary
    // size. Two partial-aggregated rollups (doc-grain stats; exploded
    // vocab) joined on the tiny language dimension.
    "q90_dataset_card" -> ((s, dir) =>
      datasetCard(Tables.documents(s, dir))),

    // Lexical diversity (type-token ratio + hapax count): the vocabulary-
    // richness quality signal (low TTR = template/boilerplate text, high
    // hapax share = noisy OCR) complementing q30's ratios and q60's
    // repetition. One explode → per-(doc, token) counts → per-doc rollup;
    // both aggregations partial-combine, shuffle keyed by doc and token.
    "q89_lexical_diversity" -> ((s, dir) => {
      // tok rides as its xxhash64 fingerprint (identity-only use — the
      // string never leaves the aggregation; collision math as in q72)
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), xxhash64(col("tok")).as("th"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types") / col("n_tokens").cast("double"), 6).as("ttr"),
          round(col("n_hapax") / col("n_types").cast("double"), 6).as("hapax_share"))
        .orderBy(col("doc_id"))
    }),

    // Sparse TF-IDF cosine similarity — the lexical-retrieval twin of the
    // dense q25/q84 kernels: documents as sparse term-weight vectors, pair
    // dot products formed through the inverted index (pairs only share a
    // posting, never all-pairs), norms from per-doc weight sums. All
    // arithmetic on 6dp-rounded weights with DECIMAL pair sums, so the
    // score is order-independent and bit-identical cross-engine (same
    // discipline as q33's idf). At scale this is the BM25/TF-IDF shape:
    // the shuffle keys are terms and pair output is bounded by posting
    // sizes, exactly like the q35/q58 shingle index.
    "q85_sparse_cosine" -> ((s, dir) => {
      val d = Tables.documents(s, dir).where(col("doc_id") < 150)
      val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true) // feeds df-counts, norms, AND the pair join
      val nDocs = d.select(countDistinct(col("doc_id")).as("n_docs"))
      val wtab = tf
        .join(tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq")), "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("dfreq")), 6)
            .as("w"))
        .localCheckpoint(true) // three consumers: norms + both pair-join sides
      val norms = wtab.groupBy(col("doc_id"))
        .agg(sqrt(sum((col("w") * col("w")).cast("decimal(28,12)")).cast("double"))
          .as("norm"))
      val dots = wtab.toDF("a_id", "term", "a_w")
        .join(wtab.toDF("b_id", "term2", "b_w"),
          col("term") === col("term2") && col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(sum((col("a_w") * col("b_w")).cast("decimal(28,12)"))
          .cast("double").as("dot"))
      dots
        .join(norms.toDF("a_id", "a_norm"), "a_id")
        .join(norms.toDF("b_id", "b_norm"), "b_id")
        .withColumn("sim", round(col("dot") / (col("a_norm") * col("b_norm")), 6))
        .where(col("sim") >= 0.5)
        .select(col("a_id"), col("b_id"), col("sim"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene-form idf):
    // top-20 documents for a fixed bag-of-words query — the lexical twin
    // of the V1 dense-vector search (q25). Per query term t:
    //   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)
    //   w(d,t) = idf·tf·(k1+1)/(tf + k1·(1 − b + b·len/avglen))
    // One corpus scan computes tf/len; the per-term df table and the two
    // scalars (N, avglen) broadcast; scoring is scan-shaped. Weights are
    // 6dp-rounded and decimal-summed per doc, so ranking is
    // order-independent and bit-identical cross-engine.
    "q86_bm25" -> ((s, dir) => {
      val (k1, b) = (1.2, 0.75)
      val qTerms = Seq("hash", "join", "order", "scan")
      val d = Tables.documents(s, dir)
      // ONE conditional aggregation replaces the former checkpoint of the
      // full exploded token table (fact × tokens — unmaterializable at
      // 100 TB) that fed three consumers: with a FIXED query-term set,
      // doc length and each term's tf are columns of the same
      // groupBy(doc_id) pass. A document's tokens never leave the
      // partition its row exploded in, so partial aggregation collapses
      // to one row per doc before the only shuffle; everything downstream
      // is doc-grain. Same counts, same 6dp weights — bit-identical.
      val perDoc = d
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("len"),
          qTerms.map(t =>
            sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
      val scalars = perDoc.agg(count(lit(1)).as("n_docs"),
        (sum(col("len")).cast("double") / count(lit(1))).as("avglen"))
      // melt the tf columns back to (doc_id, len, term, tf > 0) rows —
      // the exact row set the former tf⋈lens join produced
      val tf = perDoc.select(col("doc_id"), col("len"),
        explode(array(qTerms.map(t =>
          struct(lit(t).as("term"), col(s"tf_$t").as("tf"))): _*)).as("e"))
        .select(col("doc_id"), col("len"),
          col("e.term").as("term"), col("e.tf").as("tf"))
        .where(col("tf") > 0)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
      tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(scalars))
        .withColumn("idf",
          log((col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5))
            + lit(1.0)))
        // House rule (cf. pageRank's reset constant): literals the oracle
        // parses (2.2, 0.25) are written AS literals, never recomputed as
        // k1+1 / 1-b — IEEE sums need not round onto the parsed double.
        .withColumn("w", round(
          col("idf") * col("tf") * lit(2.2) /
            (col("tf") + lit(k1) * (lit(0.25) + lit(b) * col("len") / col("avglen"))),
          6))
        .groupBy(col("doc_id"))
        .agg(sum(col("w").cast("decimal(18,6)")).cast("double").as("bm25"),
          count(lit(1)).as("n_query_terms"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Exact corpus heavy hitters (operators.HeavyHitters): tokens above
    // 1% of all occurrences via Misra-Gries candidates + exact recount —
    // the two-pass shape that finds frequent URLs/n-grams at 100 TB
    // without ever shuffling the full token domain. The oracle is the
    // plain GROUP BY ... HAVING the sketch pass provably never misses.
    "q83_heavy_hitters" -> ((s, dir) => {
      graft.operators.HeavyHitters.exact(
        Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("token")),
        "token", phi = 0.01)
    }),
  )

  private val stopList = stop.map(s => s"'$s'").mkString(", ")

  val oracles: Map[String, String] = Map(
    "q93_gopher_rules" ->
      s"""WITH tk AS (
         |  SELECT doc_id, text, regexp_extract_all(lower(text), '$wordPat') AS tk
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CASE WHEN len(tk) > 0 THEN
         |      CAST(list_sum(list_transform(tk, w -> len(w))) AS DOUBLE) / len(tk)
         |      ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN len(text) > 0 THEN
         |      CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / len(text)
         |      ELSE 0.0 END AS symbol_ratio,
         |    CAST(len(list_filter(tk, w -> w IN ('${stop.mkString("','")}')))
         |      AS BIGINT) AS stop_hits,
         |    CASE WHEN len(tk) >= 2 THEN
         |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
         |        i -> tk[i] || ' ' || tk[i + 1]))) AS DOUBLE) / (len(tk) - 1)
         |      ELSE 0.0 END AS dup_bigram_frac
         |  FROM tk)
         |SELECT doc_id, n_words,
         |  round(mean_word_len, 6) AS mean_word_len,
         |  round(symbol_ratio, 6) AS symbol_ratio,
         |  stop_hits,
         |  round(dup_bigram_frac, 6) AS dup_bigram_frac,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END *
         |    CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END *
         |    CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END *
         |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END *
         |    CASE WHEN dup_bigram_frac <= 0.05 THEN 1 ELSE 0 END AS BIGINT) AS passes
         |FROM f ORDER BY doc_id""".stripMargin,

    "q90_dataset_card" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, text,
         |    md5(lower(trim(text))) AS fp,
         |    regexp_extract_all(lower(text), '$wordPat') AS tk
         |  FROM documents),
         |stats AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
         |    round(CAST(sum(length(text)) AS DOUBLE) / count(*), 6) AS mean_chars,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
         |  FROM d GROUP BY lang),
         |vocab AS (
         |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
         |  FROM (SELECT lang, unnest(tk) AS tok FROM d) t GROUP BY lang)
         |SELECT s.lang, s.n_docs, s.n_tokens, s.mean_chars, s.n_unique,
         |  round(s.n_unique / CAST(s.n_docs AS DOUBLE), 6) AS unique_rate,
         |  COALESCE(v.vocab_size, 0) AS vocab_size
         |FROM stats s LEFT JOIN vocab v USING (lang)
         |ORDER BY s.lang""".stripMargin,

    "q89_lexical_diversity" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '$wordPat')) AS tok
         |  FROM documents),
         |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
         |      FROM t GROUP BY doc_id, tok)
         |SELECT doc_id,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  round(count(*) / CAST(sum(n) AS DOUBLE), 6) AS ttr,
         |  round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS hapax_share
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q86_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '$wordPat')) AS term
         |  FROM documents),
         |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
         |         FROM toks GROUP BY doc_id),
         |scalars AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM lens),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
         |  WHERE term IN ('hash', 'join', 'order', 'scan')
         |  GROUP BY doc_id, term),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq
         |          FROM tf GROUP BY term),
         |w AS (
         |  SELECT tf.doc_id,
         |    round(ln((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
         |      * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / s.avglen)), 6) AS w
         |  FROM tf JOIN dfreq d USING (term)
         |  JOIN lens l ON l.doc_id = tf.doc_id
         |  CROSS JOIN scalars s)
         |SELECT doc_id,
         |  CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS bm25,
         |  CAST(count(*) AS BIGINT) AS n_query_terms
         |FROM w GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 20""".stripMargin,

    "q85_sparse_cosine" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id,
         |          unnest(regexp_extract_all(lower(text), '$wordPat')) AS term
         |        FROM d) t
         |  GROUP BY doc_id, term),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM d),
         |w AS (
         |  SELECT tf.doc_id, tf.term,
         |    round(tf.tf * ln((SELECT CAST(n_docs AS DOUBLE) FROM n) / df.dfreq), 6) AS w
         |  FROM tf JOIN (
         |    SELECT term, CAST(count(*) AS BIGINT) AS dfreq FROM tf GROUP BY term) df
         |    USING (term)),
         |norms AS (
         |  SELECT doc_id,
         |    sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS norm
         |  FROM w GROUP BY doc_id),
         |dots AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(sum(CAST(a.w * b.w AS DECIMAL(28,12))) AS DOUBLE) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id,
         |  round(dot / (na.norm * nb.norm), 6) AS sim
         |FROM dots
         |JOIN norms na ON na.doc_id = a_id
         |JOIN norms nb ON nb.doc_id = b_id
         |WHERE round(dot / (na.norm * nb.norm), 6) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "q83_heavy_hitters" ->
      s"""WITH t AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '$wordPat')) AS token
         |  FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
         |SELECT token, CAST(count(*) AS BIGINT) AS freq,
         |  round(CAST(count(*) AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM n), 6) AS share
         |FROM t GROUP BY token
         |HAVING count(*) > 0.01 * (SELECT total FROM n)
         |ORDER BY freq DESC, token ASC""".stripMargin,

    "q29_token_counts" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(lower(text), '$wordPat')) AS n_words,
         |  len(regexp_extract_all(text, '$bpePat')) AS n_bpe_pieces,
         |  CAST(length(text) AS BIGINT) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_quality" ->
      s"""SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens > 0
         |       THEN round(n_stop / CAST(n_tokens AS DOUBLE), 6)
         |       ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN length(text) > 0
         |       THEN round(n_punct / CAST(length(text) AS DOUBLE), 6)
         |       ELSE 0.0 END AS punct_ratio,
         |  round((n_tokens / 50.0) / (n_tokens / 50.0 + 2.0), 6) AS quality_score
         |FROM (
         |  SELECT doc_id, text,
         |    len(regexp_extract_all(lower(text), '$wordPat')) AS n_tokens,
         |    len(list_filter(regexp_extract_all(lower(text), '$wordPat'),
         |        t -> t IN ($stopList))) AS n_stop,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin,

    "q31_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS tk
        |  FROM documents),
        |votes AS (
        |  SELECT doc_id, lang, v.marker_lang,
        |    len(list_filter(tk, t -> list_contains(v.words, t))) AS hits
        |  FROM toks, (VALUES
        |    ('en', ['the','hash','order','row']),
        |    ('fr', ['scan','data','query','petite']),
        |    ('de', ['customer','join','gross','und']),
        |    ('es', ['slow','agg','merge','valor']),
        |    ('zh', ['small','value','column','shi'])) v(marker_lang, words)),
        |ranked AS (
        |  SELECT doc_id, lang, marker_lang, hits,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY hits DESC, marker_lang ASC) AS rn
        |  FROM votes)
        |SELECT doc_id, marker_lang AS predicted_lang,
        |  CAST(hits AS BIGINT) AS marker_hits, lang AS labeled_lang
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q56_rolling_hash" ->
      // CASE (not coalesce) guards empty text: DuckDB's list_reduce([])
      // throws a hard error rather than returning NULL.
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CASE WHEN length(text) > 0 THEN list_reduce(
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ord(substring(text, i, 1)) AS BIGINT)),
        |    (acc, c) -> (acc * 131 + c) % 2147483647) ELSE 0 END AS content_hash,
        |  CASE WHEN length(text) > 0 THEN list_reduce(
        |    list_transform(range(1, least(length(text), 64) + 1),
        |      i -> CAST(ord(substring(text, i, 1)) AS BIGINT)),
        |    (acc, c) -> (acc * 131 + c) % 2147483647) ELSE 0 END AS prefix_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
        |  substring(md5(lower(trim(text))), 1, 8) AS shard_key
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q33_tfidf" ->
      """WITH tf AS (
        |  SELECT lang, word, count(*) AS tf FROM (
        |    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |    FROM documents) t
        |  GROUP BY lang, word),
        |df AS (SELECT word, count(DISTINCT lang) AS df FROM tf GROUP BY word),
        |scored AS (
        |  SELECT tf.lang, tf.word, round(tf.tf * ln(5.0 / df.df), 6) AS score
        |  FROM tf JOIN df ON tf.word = df.word),
        |ranked AS (
        |  SELECT lang, word, score,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY score DESC, word ASC) AS rn
        |  FROM scored)
        |SELECT lang, rn, word, score FROM ranked WHERE rn <= 5
        |ORDER BY lang, rn""".stripMargin,

    "q59_vocab_coverage" ->
      s"""WITH tk AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '$wordPat')) AS token
         |  FROM documents),
         |c AS (SELECT token, count(*) AS n FROM tk GROUP BY token),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         |r AS (
         |  SELECT token, CAST(n AS BIGINT) AS n,
         |    CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS tok_rank,
         |    CAST(sum(n) OVER (ORDER BY n DESC, token ASC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM c)
         |SELECT tok_rank, token, n,
         |  CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE) AS cum_share
         |FROM r
         |WHERE CAST(cum - n AS DOUBLE) < 0.90 * CAST((SELECT total FROM t) AS DOUBLE)
         |ORDER BY tok_rank""".stripMargin,

    "q75_unigram_logprob" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$wordPat')) AS tok
         |  FROM documents),
         |freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CAST(round(ln(CAST(n AS DOUBLE)
         |      / CAST((SELECT total FROM t) AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*) AS avg_logp
         |FROM toks JOIN freq USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q76_bigram_lm" ->
      s"""WITH tk AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '$wordPat') AS tk
         |  FROM documents WHERE len(regexp_extract_all(lower(text), '$wordPat')) >= 2),
         |bi AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
         |  FROM tk),
         |uni AS (
         |  SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(tk) AS w1 FROM tk) GROUP BY w1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
         |model AS (
         |  SELECT bigram,
         |    round(ln((c12 + 0.5) / (c1 + 0.5 * (SELECT v FROM v))), 6) AS logp
         |  FROM (SELECT bigram, count(*) AS c12 FROM bi GROUP BY bigram) bc
         |  JOIN uni ON split_part(bc.bigram, ' ', 1) = uni.w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_logp
         |FROM bi JOIN model USING (bigram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q60_repetition" ->
      s"""WITH tk AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '$wordPat') AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
         |  FROM tk WHERE len(tk) >= 2),
         |c AS (
         |  SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY doc_id, bigram)
         |SELECT doc_id,
         |  CAST(sum(n) AS BIGINT) AS n_bigrams,
         |  CAST(max(n) AS BIGINT) AS top_bigram_n,
         |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE) AS dup_frac
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
