package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines.
  *
  * All are composed from codegen'd built-ins (`functions._`) — no UDFs — so
  * they stay inside WholeStageCodegen and scale linearly with input: token
  * counting, BPE-ish token estimation, language ID (stopword-ratio
  * heuristic), quality scoring, normalization and MD5 fingerprinting,
  * winnowing, and word n-gram shingling (the substrate for MinHash /
  * Jaccard dedup). Each formula exists once, as a Column function; the
  * `graft_*` SQL functions in [[GraftFunctions]] are built from these
  * same functions, so SQL and the Column API cannot drift apart.
  */
object TextAnalysis {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish estimate: word pieces + isolated punctuation (a regex proxy for
    * subword tokenizers — counts alternating alpha/num runs and symbols).
    */
  def bpeTokenEstimate(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  def charLen(text: Column): Column = length(text)

  def punctCount(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]"))

  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Small public stopword lists per language — enough signal for a
    * ratio-based heuristic, cheap enough to inline as literals into codegen.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein", "zu", "auf", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pour", "avec", "sur", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "para", "con", "un", "una", "por"))

  /** Fraction of tokens found in `lang`'s stopword list. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val list = array(stopwords(lang).map(lit): _*)
    size(filter(tokens(text), t => array_contains(list, t))).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")
  }

  /** Language ID: argmax of stopword ratios with a fixed tie-break order
    * (en > de > fr > es > und). 'und' (undetermined) when no list fires.
    */
  def langId(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es")
    val ratios = langs.map(l => l -> stopwordRatio(text, l))
    val best = greatest(ratios.map(_._2): _*)
    val caseChain = ratios.foldLeft(when(best <= 0d, lit("und"))) {
      case (acc, (l, r)) => acc.when(r === best, lit(l))
    }
    caseChain.otherwise(lit("und"))
  }

  /** Exact integer floor-division on non-negative longs: (a - a mod b) / b
    * is integer-valued, hence exact in double, hence exact after the cast.
    * (Values stay < 2^53; a plain double a/b could tip a floor at near-
    * integer quotients.)
    */
  def intDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Number of tokens present in `lang`'s stopword list. */
  def stopwordHits(text: Column, lang: String): Column = {
    val list = array(stopwords(lang).map(lit): _*)
    size(filter(tokens(text), t => array_contains(list, t)))
  }

  /** Composite quality score scaled to parts-per-million, computed entirely
    * in integer arithmetic so it is bit-identical across engines and
    * partitionings (a double formulation flapped on rounding boundaries):
    * mean of four 0..1e6 components — length saturation (cap 500 chars),
    * punctuation cleanliness, English stopword presence (×4 saturation),
    * mean-token-length sanity (cap 8).
    */
  def qualityScorePpm(text: Column): Column = {
    val M = lit(1000000L)
    val len = charLen(text).cast("long")
    val toks = greatest(tokenCount(text), lit(1)).cast("long")
    val lenScore = least(intDiv(len * M, lit(500L)), M)
    val punctScore = M - intDiv(punctCount(text).cast("long") * M, greatest(len, lit(1L)))
    val stopScore = least(intDiv(stopwordHits(text, "en").cast("long") * 4L * M, toks), M)
    val tokScore = least(intDiv(len * M, toks * 8L), M)
    intDiv(lenScore + punctScore + stopScore + tokScore, lit(4L))
  }

  /** Quality in [0,1]: the exact ppm score over 1e6 (one exact-integer /
    * constant division — deterministic in IEEE double everywhere).
    */
  def qualityScore(text: Column): Column =
    qualityScorePpm(text).cast("double") / 1000000d

  /** Canonical form for fingerprinting: lowercase, strip non-alphanumerics,
    * collapse whitespace.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Document fingerprint: MD5 of the normalized text (portable across
    * engines, unlike xxhash).
    */
  def fingerprintMd5(text: Column): Column = md5(normalizeText(text))

  /** Word n-gram shingles (distinct), the unit set for Jaccard/MinHash.
    * Rows with fewer than n tokens yield an empty set. Native single-pass
    * expression (graft.functions.WordShingles).
    */
  def shingles(text: Column, n: Int): Column =
    SketchExpressions.wordShingles(tokens(text), n)

  /** Count of the most frequent element in `arr` — computed per row with
    * a sort + single aggregate pass over runs (equal elements are adjacent
    * after `array_sort`), so the whole metric is map-side: no explode, no
    * per-document shuffle. Empty arrays yield 0.
    */
  def topElementCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      // run = 0 marks "no previous element yet", so no sentinel needs to
      // sit outside the element domain (generic over strings AND longs);
      // get() is null-safe on empty arrays where element_at would raise
      struct(get(arr, lit(0)).as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (st, t) => {
        val run = when(st.getField("run") > 0L && t === st.getField("prev"),
          st.getField("run") + 1L).otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))

  /** Element count, distinct count, and top-element count of `arr` in ONE
    * sorted-run pass — struct(n_tokens, n_distinct, top_cnt). q134/q135
    * consume this instead of separate size / array_distinct /
    * [[topElementCount]] calls: each of those re-evaluates the (non-cheap)
    * token/bigram array expression, and the recomputed splits dominated
    * the measured per-query cost.
    */
  def runStats(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(get(arr, lit(0)).as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("n"), lit(0L).as("nd")),
      (st, t) => {
        val isRun = st.getField("run") > 0L && t === st.getField("prev")
        val run = when(isRun, st.getField("run") + 1L).otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"),
          (st.getField("n") + 1L).as("n"),
          when(isRun, st.getField("nd")).otherwise(st.getField("nd") + 1L)
            .as("nd"))
      },
      st => struct(st.getField("n").as("n_tokens"),
        st.getField("nd").as("n_distinct"),
        st.getField("best").as("top_cnt")))

  /** All adjacent word bigrams (with multiplicity, order preserved),
    * joined on  — the per-document unit for Rae et al.'s
    * duplicate-n-gram repetition filters. Fewer than 2 tokens → empty.
    * (Unlike [[shingles]] this keeps duplicates: repetition is the
    * signal, so `array_distinct` would erase it.)
    */
  def wordBigramsAll(toks: Column): Column = {
    // q131's slice+zip_with idiom: the lambda sees both elements
    // positionally - per-index element_at lookups cost ~15x more
    // (interpreted lambda + per-element array probing, q135 profiling)
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (x, y) => concat_ws("", x, y))
  }

  /** Adjacent bigrams as packed 64-bit keys: (murmur3(w_i) << 32) |
    * murmur3(w_i+1). Counting runs over sorted LONGS costs a fraction of
    * sorting freshly-concatenated strings (q135 measured 5.9 s → string
    * build + string sort dominated), and the key never leaves the row.
    * Same keyed-not-literal discipline as the xxhash64 shingle keys: a
    * 32-bit collision inside one document's vocabulary could in principle
    * merge two bigrams, but the DuckDB oracle counts the REAL bigrams, so
    * a collision would surface as a hash mismatch — it is checked, not
    * assumed.
    */
  def wordBigramKeys(toks: Column): Column = {
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n), (x, y) =>
      shiftleft(hash(x).cast("long"), 32)
        .bitwiseOR(hash(y).cast("long").bitwiseAND(lit(0xffffffffL))))
  }

  /** floor(log2(x)) for x >= 1 as exact integer arithmetic: the bit length
    * of the binary rendering, minus one. `bin()` renders identically in
    * Spark and DuckDB, so this quantization is bit-stable across engines —
    * unlike float log2, which diverges at exact powers of two.
    */
  def floorLog2(x: Column): Column = (length(bin(x)) - 1).cast("long")

  /** Binds `v` once per row for `f`: `f` reads a lambda variable, so a
    * computed `v` is evaluated once however often `f` uses it — also
    * inside `f`'s own per-element lambdas, where an inlined subtree would
    * be recomputed per element (subexpression elimination does not reach
    * into lambda bodies).
    */
  private def let(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** md5 hex of every k-gram of `s`, in position order — winnowing's
    * first step (Schleimer et al. 2004). Fewer than k chars → empty; the
    * guard is explicit because Spark's sequence(1, n) DESCENDS for n ≤ 0.
    */
  def grams(s: Column, k: Int): Column =
    when(length(s) >= k,
        transform(sequence(lit(1), length(s) - (k - 1)),
          i => md5(substr(s, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** The minimum of every window of w consecutive `grams` — winnowing's
    * selection. Fewer than w grams → empty (same sequence guard).
    */
  def windowMins(grams: Column, w: Int): Column =
    when(size(grams) >= w,
        transform(sequence(lit(1), size(grams) - (w - 1)),
          j => array_min(slice(grams, j, lit(w)))))
      .otherwise(array().cast("array<string>"))

  /** The winnowing fingerprint selection of `text` as ONE Column (q140's
    * algebra): [[windowMins]] of the [[grams]] of the [[normalizeText]]
    * form. The normalized text and the gram array are each let-bound, so
    * both are computed once per row and the whole selection is O(L·(k+w))
    * per document. `ExtensionQueries.winnowSel` builds its s/grams/sel
    * columns from the same pieces; `graft_winnow_select` is this
    * function.
    */
  def winnowSelect(text: Column, k: Int, w: Int): Column = {
    require(k > 0 && w > 0, "winnow k and w must be positive")
    let(normalizeText(text))(s => let(grams(s, k))(windowMins(_, w)))
  }

  /** Per-row "self-entropy" of `arr` in the q136 integer-log2
    * quantization: Σ over distinct elements of f·(⌊log2 n⌋ − ⌊log2 f⌋)
    * (n = array size, f = the element's multiplicity) — the within-doc
    * counterpart of corpus-LM surprisal, bit-stable where float
    * Σ p·ln p is not. Since the multiplicities sum to n this is
    * n·⌊log2 n⌋ − Σ f·⌊log2 f⌋, computed in ONE sorted-run pass (equal
    * elements adjacent after `array_sort`; each run adds run·⌊log2 run⌋
    * when it closes, the last one in the finish lambda) over the
    * let-bound argument, so a computed `arr` is evaluated once per row —
    * map-only: no explode, no per-document shuffle. Empty arrays yield 0.
    */
  def runEntropySum(arr: Column): Column = let(arr) { a =>
    val n = size(a).cast("long")
    // floorLog2(0) = 0, so the empty opening run closes to 0
    def closed(run: Column) = run * floorLog2(run)
    aggregate(
      array_sort(a),
      struct(get(a, lit(0)).as("prev"), lit(0L).as("run"),
        lit(0L).as("acc")),
      (st, t) => {
        val isRun = st.getField("run") > 0L && t === st.getField("prev")
        struct(t.as("prev"),
          when(isRun, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(isRun, st.getField("acc"))
            .otherwise(st.getField("acc") + closed(st.getField("run")))
            .as("acc"))
      },
      st => n * floorLog2(n) - (st.getField("acc") + closed(st.getField("run"))))
  }

  /** Collapse runs of consecutive duplicate tokens to one occurrence
    * ("batch batch batch" → "batch") — the Gopher-family self-repetition
    * cleanup, as a pure per-row transform (two-arg filter HOF: keep index
    * 0 and every token that differs from its predecessor). `toks` is
    * let-bound, so a computed argument is evaluated once per row, not
    * once per token by the predecessor lookup.
    */
  def collapseRuns(toks: Column): Column = let(toks) { a =>
    // greatest(i, 1) keeps the predecessor lookup inside ANSI bounds at
    // index 0 (where the i === 0 arm decides anyway: t =!= t is false)
    filter(a, (t, i) => i === 0 || t =!= element_at(a, greatest(i, lit(1))))
  }
}
