package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.DriverLocal

/** Text-analysis operators for the LLM-data-pipeline surface
  * (SURVEY.md §2.12 / builder north star): normalization, tokenization,
  * token stats, language-ID heuristic, quality scoring, fingerprinting.
  *
  * All pure `functions._` compositions — codegen'd, shuffle-free per-row
  * work that scales linearly; no UDFs. Hashing is md5-based so the DuckDB
  * oracle can reproduce it bit-for-bit.
  */
object TextOps {

  /** Canonical text form: collapse whitespace, trim, lowercase. */
  def normalize(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of a normalized string. */
  def tokens(c: Column): Column = split(c, " ")

  /** 60-bit hash from the md5 hex prefix — reproducible in any engine
    * with md5 (DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT). Computed
    * by the [[graft.expr.Hash60]] codegen kernel straight from the
    * digest bytes — value-identical to the former
    * conv(substring(md5(c),1,15),16,10)::long chain without
    * materializing hex strings per row (Hash60ParitySpec pins the
    * equivalence). */
  def hash60(c: Column): Column = graft.expr.Hash60Kernel.hash60col(c)

  /** Overlapping token-window chunking — the RAG / context-window
    * preparation step: each document becomes sliding chunks of
    * `chunkTokens` whitespace tokens starting every
    * `chunkTokens − overlap` tokens (the final windows may be shorter).
    * Chunk identity is (doc id, chunk_idx) with the token start offset,
    * so chunks are stable, addressable units a retrieval index or
    * packing stage can key on.
    *
    * Scale shape: per-row `sequence` + `slice` + `array_join` — the
    * corpus explodes only ×⌈n/step⌉ (bounded by document length over
    * step), all codegen'd, no shuffle; the op never re-keys the corpus.
    * Empty/whitespace-only text yields one chunk of the empty token
    * (split-on-space semantics, same as every tokens() consumer). */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap=$overlap < chunkTokens=$chunkTokens")
    val step = chunkTokens - overlap
    df.select(col(idCol), tokens(normalize(col(textCol))).as("_toks"))
      .withColumn("_start", explode(expr(
        s"sequence(0, size(_toks) - 1, $step)")))
      .select(col(idCol),
        (col("_start") / step).cast("long").as("chunk_idx"),
        col("_start").cast("long").as("start_tok"),
        expr(s"slice(_toks, _start + 1, $chunkTokens)").as("_c"))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        size(col("_c")).cast("long").as("n_tokens"),
        array_join(col("_c"), " ").as("chunk_text"))
  }

  /** Token count + alpha-token count + a BPE-ish size estimate
    * (ceil(chars/4) — the usual ~4 chars/token heuristic). */
  def tokenStats(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("_norm", normalize(col(textCol)))
    .withColumn("n_tokens", size(tokens(col("_norm"))))
    .withColumn("n_alpha_tokens",
      size(regexp_extract_all(col(textCol), lit("[a-zA-Z]+"), lit(0))))
    .withColumn("n_tokens_bpe_est",
      ceil(length(col(textCol)) / lit(4.0)).cast("long"))
    .drop("_norm")

  /** Stopword-profile language ID (n-gram/stopword heuristic). Scores are
    * exact regex-match counts; argmax with a fixed precedence order so the
    * result is deterministic. On real corpora the profiles would be learned;
    * the operator shape (per-row regex counts + argmax) is the same. */
  val langProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|was)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "es" -> "\\b(el|los|las|es|y|que)\\b",
    "fr" -> "\\b(le|les|et|est|une|dans)\\b")

  def langId(df: DataFrame, textCol: String): DataFrame = {
    val scored = langProfiles.foldLeft(df) { case (d, (lang, pat)) =>
      d.withColumn(s"score_$lang",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))))
    }
    val best = langProfiles.map(_._1).foldRight(lit("und")) {
      case (lang, els) =>
        val c = col(s"score_$lang")
        val others = langProfiles.map(_._1).filter(_ != lang)
          .map(o => c >= col(s"score_$o")).reduce(_ && _)
        when(c > 0 && others, lit(lang)).otherwise(els)
    }
    scored.withColumn("lang_pred", best)
  }

  /** Quality scoring: length/punctuation/stopword ratios combined into a
    * [0,1] score. Formula written in one fixed arithmetic order so any
    * engine computing it over the same doubles agrees bitwise. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("n_chars_obs", length(col(textCol)))
    .withColumn("n_tokens", size(tokens(normalize(col(textCol)))))
    .withColumn("n_punct",
      size(regexp_extract_all(col(textCol), lit("[.,!?;:]"), lit(0))))
    .withColumn("n_stop",
      size(regexp_extract_all(col(textCol), lit(langProfiles.head._2), lit(0))))
    .withColumn("punct_ratio",
      col("n_punct").cast("double") / col("n_chars_obs"))
    .withColumn("stop_ratio",
      col("n_stop").cast("double") / col("n_tokens"))
    .withColumn("quality",
      least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.4)
        + (lit(1.0) - col("punct_ratio")) * lit(0.3)
        + least(col("stop_ratio") * lit(5.0), lit(1.0)) * lit(0.3))

  /** Max-bigram repetition ratio (Gopher/C4-style quality rule): the
    * most frequent word bigram's share of all bigram instances —
    * boilerplate and degenerate generations score high. Unlike
    * [[Dedup.shingleTable]], bigram INSTANCES are kept (no per-doc
    * dedup — the counts are the signal). Two hash-aggs keyed by doc;
    * docs with fewer than two tokens have no bigrams and drop out. */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(normalize(col(textCol))).as("_toks"))
      .select(col(idCol),
        explode(expr(Dedup.kGramExpr("_toks", 2, distinct = false)))
          .as("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("max_bigram"), sum(col("n")).as("n_bigrams"))
      // quotient of identical integer operands: bit-identical across
      // engines — emit RAW (rounding would reintroduce the half-boundary
      // divergence class the parity playbook documents)
      .withColumn("rep_ratio", col("max_bigram") / col("n_bigrams"))

  /** PII scrubbing: count and redact URLs, emails, and IPv4 addresses
    * (plain regex surface — both Java and RE2 dialects accept these
    * patterns, no lookaround/backrefs). Redaction is sequential
    * URL → email → IP (URLs first: they may CONTAIN emails/IPs), and
    * each stage COUNTS on the previous stage's output, so counts always
    * reconcile with the placeholders in `scrubbed` — an IP inside a URL
    * is one <URL>, not a phantom n_ips. The URL pattern refuses to end
    * on sentence punctuation ("(see https://x.io)." keeps the ")." );
    * the IP pattern validates octet ranges (version strings like
    * 4.0.0.1999 are not PII). Per-row expressions only, no shuffle. The
    * synthetic testdata contains no PII, so this op is spec-tested
    * rather than oracle-queried. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]*[^\\s.,;:!?)\\]}>'\"]"
  private val Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val IpRe = s"\\b$Octet(\\.$Octet){3}\\b"

  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val afterUrl = regexp_replace(col(textCol), UrlRe, "<URL>")
    val afterEmail = regexp_replace(afterUrl, EmailRe, "<EMAIL>")
    df
      .withColumn("n_urls",
        size(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))))
      .withColumn("n_emails",
        size(regexp_extract_all(afterUrl, lit(EmailRe), lit(0))))
      .withColumn("n_ips",
        size(regexp_extract_all(afterEmail, lit(IpRe), lit(0))))
      .withColumn("scrubbed", regexp_replace(afterEmail, IpRe, "<IP>"))
  }

  /** TF-IDF: per-(doc, term) term frequency × ln(n_docs / doc_freq),
    * rounded to 6 decimals BEFORE any ranking so engines rank identical
    * values. Three hash-aggregates (tf by (doc, term), df by term, corpus
    * count) + one equi-join on term — the classic two-pass formulation;
    * the one-row corpus count is a broadcast cross join, and nothing is
    * ever collected to the driver. At 100 TB the term-keyed shuffle is
    * uniform (natural-language term distribution is skewed, but the tf
    * pre-aggregation caps any term's row count at n_docs). */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(tokens(normalize(col(textCol)))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .select(col(idCol), col("term"), col("tf"), col("tfidf"))
  }

  /** Top-n terms per doc by [[tfidf]] (ties broken by term — total order,
    * deterministic). One extra shuffle by doc for the rank window. */
  def topTerms(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    tfidf(df, idCol, textCol)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** Corpus-unigram language-model score (KenLM-style quality signal,
    * unigram order): per doc, the mean surprisal −ln(cf/N) of its token
    * INSTANCES under the corpus unigram distribution — rare-token-heavy
    * (or off-corpus) docs score high, boilerplate scores low. The classic
    * perplexity-filter shape with the LM replaced by the corpus itself.
    *
    * Two hash-aggs (corpus term freq; per-doc sum) + one term-keyed join +
    * a 1-row broadcast total — same plan skeleton as [[tfidf]], linear at
    * 100 TB. The per-doc mean is a float sum whose addition order differs
    * across engines/partitionings, so it is rounded to 9 decimals
    * (~1e-14 reorder noise vs a 5e-10 grid — the parity playbook's
    * round-above-the-noise rule). */
  def unigramSurprisal(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(tokens(normalize(col(textCol)))).as("term"))
    // cf feeds the per-instance join AND the corpus total — cached so the
    // corpus tokenize+aggregate pass runs once (vocabulary-sized, the
    // same footprint class as contaminationOverlap's shingle cache;
    // Verify/Bench clearCache after each query)
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf")).cache()
    // N = Σ cf — derived from the frequency table, NOT a third
    // tokenize+scan of the corpus (the 1-row agg over cf is tiny)
    val total = cf.agg(sum(col("cf")).as("n_total"))
    toks.join(cf, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cf").cast("double") / col("n_total"))), 9)
          .as("avg_surprisal"))
  }

  /** Bigram language-model surprisal (order-2 upgrade of
    * [[unigramSurprisal]], the standard KenLM-style perplexity filter
    * shape): per doc, the mean −ln P(w₂|w₁) of its adjacent token pairs
    * under the corpus bigram model with add-k smoothing,
    * P(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁·) + k·V) — k = 0.5, V = corpus
    * vocabulary, c(w₁·) = bigram occurrences starting with w₁, so the
    * conditional sums to 1 exactly. Catches the repetition unigrams
    * can't: a doc of common words in improbable ORDER scores high.
    * Docs with fewer than 2 tokens have no bigrams and are omitted.
    *
    * Scale shape: bigrams by slicing each doc's own token array (zero
    * shuffle, same trick as [[collocations]]); bigram/context counts are
    * one hash-agg each (vocabulary²-bounded sides, AQE broadcasts when
    * small); V is a 1-row broadcast. The per-doc mean rounds to 9
    * decimals — the round-above-the-noise rule, as [[unigramSurprisal]]. */
  def bigramSurprisal(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val addK = 0.5
    val toks = df.select(col(idCol), tokens(normalize(col(textCol))).as("t"))
    val bi = toks.select(col(idCol), explode(expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |  slice(t, 2, greatest(size(t) - 1, 0)),
          |  (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("b"))
      .select(col(idCol), col("b.w1"), col("b.w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    // context counts roll up from the bigram counts (vocabulary²-sized),
    // NOT from a second corpus pass: c(w₁·) = Σ_w₂ c(w₁w₂)
    val c1 = bc.groupBy("w1").agg(sum(col("n_ab")).as("c_w1"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("v"))
    bi.join(bc, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("n_ab") + lit(addK)) /
          (col("c_w1") + lit(addK) * col("v")))), 9).as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney,
    * ICASSP'95; the Chen & Goodman '99 benchmark winner and the
    * smoothing behind production n-gram LMs):
    * P_KN(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁)
    *             + D·N₁₊(w₁,·)/c(w₁) · N₁₊(·,w₂)/N₁₊(··)
    * — the continuation-count insight ("how many contexts does w₂
    * complete", not "how often does w₂ occur") that fixes add-k's
    * overestimate of frequent-but-context-bound words. Emits the top-k
    * bigrams by count with their smoothed probability.
    *
    * Scale shape: bigrams slice each doc's own token array (zero
    * shuffle); EVERY statistic — c(w₁·), N₁₊(w₁,·), N₁₊(·,w₂), N₁₊(··)
    * — rolls up from the one vocabulary²-bounded bigram-count table,
    * never from a second corpus pass; the scalar N₁₊(··) enters by
    * broadcast. One shared parenthesization keeps the probability
    * bit-identical across engines (round 9 = above-the-noise). */
  def kneserNeyBigrams(df: DataFrame, idCol: String, textCol: String,
      discount: Double, topK: Int): DataFrame = {
    val toks = df.select(tokens(normalize(col(textCol))).as("t"))
    val bi = toks.select(explode(expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |  slice(t, 2, greatest(size(t) - 1, 0)),
          |  (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .cache() // four consumers: top-k, c(w₁·)/N₁₊(w₁,·), N₁₊(·,w₂), N₁₊(··)
    val c1 = bc.groupBy("w1").agg(sum(col("n_ab")).as("c_w1"),
      count(lit(1)).as("n_succ"))
    val c2 = bc.groupBy("w2").agg(count(lit(1)).as("n_pred"))
    val nb = bc.agg(count(lit(1)).cast("double").as("_nbig"))
    // orderBy+limit → TakeOrderedAndProject (distributed per-partition
    // top-k), NOT a global window sort of the bigram-type table
    bc.orderBy(col("n_ab").desc, col("w1"), col("w2")).limit(topK)
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n_ab"),
        round((greatest(col("n_ab") - discount, lit(0.0))
          + lit(discount) * col("n_succ") * (col("n_pred") / col("_nbig")))
          / col("c_w1"), 9).as("pkn_r"))
  }

  /** Bigram collocations by pointwise mutual information:
    * PMI(a,b) = ln(P(ab) / (P(a)·P(b))) over adjacent token pairs,
    * keeping pairs seen ≥ `minCount` times — the classic collocation
    * extractor ("new york" scores high, "of the" scores ~0).
    *
    * Scale shape: bigrams come from slicing each doc's own token array
    * (zero-shuffle, no positional self-join); unigram and bigram counts
    * are one hash-agg each; totals are 1-row aggs computed DIRECTLY from
    * token-array sizes (Σ|t|, Σ(|t|−1)) so nothing is scanned twice and
    * nothing needs caching. The PMI join keys on words — vocabulary-sized
    * sides, AQE broadcasts when small. ln() combined in one fixed
    * association and rounded to 6 (libm ulp noise ≪ grid).
    */
  def collocations(df: DataFrame, textCol: String,
      minCount: Long): DataFrame = {
    val toks = df.select(tokens(normalize(col(textCol))).as("t"))
    val totals = toks.agg(
      sum(size(col("t"))).cast("double").as("n_uni"),
      sum(greatest(size(col("t")) - 1, lit(0))).cast("double").as("n_bi"))
    // the unigram table feeds BOTH pmi joins (c_a, c_b) — cached so the
    // corpus tokenize+aggregate runs once (vocabulary-sized; same
    // documented lifecycle as unigramSurprisal's cf: harness clearCache)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")).cache()
    val bi = toks.select(explode(expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |  slice(t, 2, greatest(size(t) - 1, 0)),
          |  (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_a"),
        Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_b"),
        Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(
        log(col("n_ab")) + lit(2) * log(col("n_uni")) - log(col("n_bi")) -
          log(col("c_a")) - log(col("c_b")), 6))
      .select(col("w1"), col("w2"), col("n_ab"), col("pmi"))
  }

  /** Fixed symbol alphabet for [[charEntropy]] — lowercase letters,
    * digits, space. ORDER IS CONTRACT: the entropy sum folds terms in
    * this order, and the oracle SQL is generated in the same order, so
    * the two engines add the same doubles in the same sequence. */
  val EntropyAlphabet: Seq[Char] =
    ("abcdefghijklmnopqrstuvwxyz0123456789 ").toSeq

  /** Character-distribution Shannon entropy of the normalized text (nats)
    * — the compressibility proxy quality signal (low entropy ≈ repetitive
    * /template text, the cheap stand-in for the gzip-ratio filter).
    *
    * Scale posture: SHUFFLE-FREE and explode-free — a char-level explode
    * would multiply a 100 TB corpus by average doc length before its
    * groupBy. Instead each alphabet symbol's count is
    * `length(t) - length(replace(t, s, ''))` (all per-row codegen string
    * ops); symbols outside the alphabet pool into one 'other' bucket, so
    * probabilities sum to 1 over exactly length(t) characters. Empty
    * text → entropy 0. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol), normalize(col(textCol)).as("_t"))
      .withColumn("_len", length(col("_t")))
    val withCounts = EntropyAlphabet.zipWithIndex.foldLeft(base) {
      case (d, (ch, i)) =>
        d.withColumn(s"_c$i",
          col("_len") - length(expr(s"replace(_t, '$ch', '')")))
    }.withColumn("_cOther",
      col("_len") -
        EntropyAlphabet.indices.map(i => col(s"_c$i")).reduce(_ + _))
    val terms =
      (EntropyAlphabet.indices.map(i => col(s"_c$i")) :+ col("_cOther"))
        .map { c =>
          when(c > 0,
            negate(c / col("_len")) * log(c / col("_len")))
            .otherwise(lit(0.0))
        }
    withCounts
      .withColumn("entropy", round(terms.reduce(_ + _), 6))
      .select(col(idCol), col("_len").cast("long").as("n_chars"),
        col("entropy"))
  }

  /** Content fingerprints: full-content md5 of the normalized text, plus a
    * winnowing-style min-shingle-hash (robust to local edits). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = Dedup.shingleTable(df, idCol, textCol)
    val minShingle = sh.groupBy(col(idCol))
      .agg(min(col("h")).as("min_shingle_hash"))
    df.select(col(idCol), md5(normalize(col(textCol))).as("content_md5"))
      .join(minShingle, Seq(idCol), "left")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * local algorithms for document fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): per doc, hash every word k-gram at its position,
    * slide a window of `w` consecutive k-gram hashes, and select each
    * window's MINIMUM hash, ties broken by RIGHTMOST position (the
    * paper's robust winnowing, which minimizes fingerprint density);
    * the distinct selected (hash, pos) pairs are the fingerprint set.
    * The paper's guarantee: any substring match of at least w + k − 1
    * tokens shares at least one fingerprint — unlike [[fingerprints]]'s
    * single corpus-min shingle, the positional set localizes WHERE the
    * shared run is, at ~2/(w+1) the density of the full k-gram table.
    *
    * The (min hash, rightmost pos) pair is selected in ONE window pass
    * via min over struct(h, −pos) — lexicographic struct ordering gives
    * smallest hash then largest position, identical semantics in any
    * engine with orderable structs. Window starts are clamped to
    * [0, n_grams − w] (a doc shorter than one window contributes its
    * single truncated window), so both engines enumerate exactly the
    * paper's window set.
    *
    * Scale shape: k-grams are sliced from each doc's own token array
    * (zero shuffle); ONE hash-partition by doc id feeds the window, and
    * the distinct's pre-shuffle partial dedup collapses the ~w-fold
    * duplicate selections before the second exchange. Per-doc state is
    * the token array — no cross-doc memory. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val grams = df
      .select(col(idCol), tokens(normalize(col(textCol))).as("t"))
      .select(col(idCol),
        (size(col("t")) - (k - 1)).as("n_grams"),
        posexplode(expr(Dedup.kGramExpr("t", k, distinct = false))))
      .select(col(idCol), col("n_grams"), col("pos").cast("long").as("pos"),
        hash60(col("col")).as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    grams
      .withColumn("_sel", min(struct(col("h"), (-col("pos")).as("np")))
        .over(win))
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0)))
      .select(col(idCol), col("_sel.h").as("fp_hash"),
        (-col("_sel.np")).as("fp_pos"))
      .distinct()
  }

  /** Adjacent-character-pair counts within words — the inner loop of
    * BPE tokenizer TRAINING: each merge step picks the corpus's most
    * frequent adjacent symbol pair. This computes one such step exactly,
    * at corpus scale: one token pass folds the corpus to the DISTINCT
    * (word, count) vocab first (the Zipf cut [[bpeTrain]] already
    * exploits — the vocab is bounded far below the token-instance
    * count), then the per-character pair explode + substring work runs
    * ONCE PER DISTINCT WORD with the pair weighted by the word's
    * frequency (r15, guide §1.2 step 1/§2.3: pair instances =
    * Σ_w count(w)·pairs(w) exactly, in integer arithmetic, so the
    * result is identical to exploding every instance — while the
    * expensive per-char row explode shrinks from corpus-character to
    * vocab-character cardinality). One count agg keyed by pair,
    * TakeOrdered top-k. Iterating the full BPE training loop re-runs
    * this with a merged symbol table — the per-step shape (and cost)
    * is identical. */
  def bpePairCounts(df: DataFrame, textCol: String,
      topK: Int): DataFrame = {
    df.select(explode(tokens(normalize(col(textCol)))).as("_w"))
      .filter(length(col("_w")) >= 2)
      .groupBy(col("_w")).agg(count(lit(1)).as("_cnt"))
      .select(explode(expr(
        "transform(sequence(1, length(_w) - 1), i -> substring(_w, i, 2))"))
        .as("pair"), col("_cnt"))
      .groupBy(col("pair")).agg(sum(col("_cnt")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topK)
  }

  /** Hashed-feature linear classifier scoring — the serving plumbing of a
    * fastText/logistic-regression quality filter (the standard
    * model-based curation step: score every document, keep above a
    * threshold). Feature = unigram, weight = lookup by token hash; here
    * the weight table is a deterministic hash-derived stand-in
    * (w(t) = hash60(t) mod 2001 − 1000, an integer in [−1000, 1000];
    * no trained model ships in this sandbox). Swapping in real weights is
    * a broadcast map lookup at the same plan position — the shape is the
    * part that matters at 100 TB: per-row `transform`+`aggregate` over
    * the token array, fully codegen'd, shuffle-FREE (no explode, no
    * groupBy; the corpus is never reshuffled to be scored).
    *
    * The raw score accumulates in INTEGER space (sum of integer weights),
    * so the keep decision (`w_sum > 0` ⇔ sigmoid > 0.5) is bit-exact
    * across engines — no float-boundary flakes; the reported mean score
    * and sigmoid are float only at the final division (round 9). */
  def hashedLinearScore(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    df.withColumn("_toks", tokens(normalize(col(textCol))))
      .withColumn("n_terms", size(col("_toks")).cast("long"))
      .withColumn("_wsum", expr(
        "aggregate(transform(_toks, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS LONG) % 2001 - 1000), 0L, (a, x) -> a + x)"))
      .withColumn("score", col("_wsum") / (col("n_terms") * 1000.0))
      .select(col(idCol), col("n_terms"),
        round(col("score"), 9).as("score_r"),
        round(lit(1.0) / (lit(1.0) + exp(-col("score"))), 9).as("prob_r"),
        (col("_wsum") > 0).as("keep"))
  }

  /** Gopher-style quality gates (Rae et al., "Scaling Language Models:
    * … Gopher", 2021, §A1.1 simplified): the per-rule pass/fail report
    * a filtering pipeline publishes BEFORE committing thresholds —
    * token-count bounds, mean word length, symbol ratio, stopword
    * fraction, alphabetic-word fraction, plus the all-rules row.
    *
    * Every rule test is PURE INTEGER arithmetic (e.g. mean word length
    * in [3, 10] ⇔ 3·n ≤ Σlen ≤ 10·n) — no float threshold can ever
    * disagree between engines at a boundary. One scan, one explode to
    * (rule, pass) pairs, one ≤6-row hash-agg. */
  def gopherRules(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val norm = normalize(col(textCol))
    val m = df.select(col(idCol),
        size(tokens(norm)).cast("long").as("_nt"),
        length(regexp_replace(norm, " ", "")).cast("long").as("_sumlen"),
        length(col(textCol)).cast("long").as("_nc"),
        size(regexp_extract_all(col(textCol), lit("[^a-zA-Z0-9 ]"),
          lit(0))).cast("long").as("_nsym"),
        size(regexp_extract_all(col(textCol), lit(langProfiles.head._2),
          lit(0))).cast("long").as("_nstop"),
        size(filter(tokens(norm), t => t.rlike("[a-z]")))
          .cast("long").as("_nalpha"))
    val tokenCount = col("_nt") >= 50L && col("_nt") <= 100000L
    val meanWordLen = col("_sumlen") >= lit(3L) * col("_nt") &&
      col("_sumlen") <= lit(10L) * col("_nt")
    val symbolRatio = lit(10L) * col("_nsym") < col("_nc")
    val stopwordFrac = lit(20L) * col("_nstop") > col("_nt")
    val alphaFrac = lit(5L) * col("_nalpha") >= lit(4L) * col("_nt")
    val rules = array(
      struct(lit("1_token_count").as("rule"), tokenCount.as("pass")),
      struct(lit("2_mean_word_len").as("rule"), meanWordLen.as("pass")),
      struct(lit("3_symbol_ratio").as("rule"), symbolRatio.as("pass")),
      struct(lit("4_stopword_frac").as("rule"), stopwordFrac.as("pass")),
      struct(lit("5_alpha_frac").as("rule"), alphaFrac.as("pass")),
      struct(lit("6_all").as("rule"), (tokenCount && meanWordLen &&
        symbolRatio && stopwordFrac && alphaFrac).as("pass")))
    m.select(explode(rules).as("r"))
      .groupBy(col("r.rule").as("rule"))
      .agg(sum(when(col("r.pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("r.pass"), 0L).otherwise(1L)).as("n_fail"))
      .withColumn("pass_rate_r",
        round(col("n_pass") / (col("n_pass") + col("n_fail")), 6))
  }

  /** Calibration (reliability-diagram) bins for the
    * [[hashedLinearScore]] classifier against a boolean label: docs
    * bucket by score into `bins` equal-width cells over [−1, 1], and
    * each cell reports its observed positive rate and keep rate — the
    * eval that decides whether a quality filter's threshold means what
    * its score claims, run per corpus before the filter gates anything
    * (the companion to [[graft.ops.Ranks.rankSumAuc]]'s ranking view).
    *
    * The bin index is computed in INTEGER space from the score's exact
    * rational form (wsum + 1000n)·bins div 2000n — no float floor at a
    * cell boundary can disagree between engines. One scan, one
    * ≤bins-row hash-agg; all rates are integer ratios. */
  def scoreCalibration(df: DataFrame, idCol: String, textCol: String,
      label: Column, bins: Int): DataFrame = {
    require(bins > 0)
    df.withColumn("_toks", tokens(normalize(col(textCol))))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_wsum", expr(
        "aggregate(transform(_toks, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS LONG) % 2001 - 1000), 0L, (a, x) -> a + x)"))
      .where(col("_n") > 0)
      .withColumn("bin", least(
        expr(s"((_wsum + 1000 * _n) * $bins) div (2000 * _n)"),
        lit(bins - 1L)))
      .withColumn("_pos", when(label, 1L).otherwise(0L))
      .withColumn("_keep", when(col("_wsum") > 0, 1L).otherwise(0L))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_pos")).as("n_pos"),
        sum(col("_keep")).as("n_keep"))
      .select(col("bin"),
        (lit(-1.0) + lit(2.0) * col("bin") / bins).as("bin_lo"),
        col("n_docs"), col("n_pos"),
        round(col("n_pos") / col("n_docs"), 6).as("pos_rate_r"),
        col("n_keep"),
        round(col("n_keep") / col("n_docs"), 6).as("keep_rate_r"))
  }

  /** Per-document n-gram NOVELTY — the complement of the duplication
    * metrics ([[graft.ops.Dedup.dupNGramCoverage]]): of a document's
    * DISTINCT word n-grams, what fraction appears in no other document?
    * Low novelty = the doc is assembled from corpus-common phrasing
    * (template/boilerplate), high = it contributes n-grams nothing else
    * has — a standard diversity-selection signal next to quality scores.
    *
    * Scale shape: per-doc distinct grams come out of a ROW-LOCAL
    * array_distinct (the shared [[Dedup.kGramExpr]] — no shuffle spent on
    * within-doc dedup), then one hash-agg for per-gram doc counts and an
    * equi-join back on the gram key. The quadratic trap (gram × gram or
    * doc × doc comparison) never appears; everything is keyed
    * aggregation. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, "n must be > 0")
    val docGram = df
      .select(col(idCol), tokens(normalize(col(textCol))).as("_toks"))
      .select(col(idCol),
        explode(expr(Dedup.kGramExpr("_toks", n, distinct = true)))
          .as("gram"))
    val gramDocs = docGram.groupBy(col("gram"))
      .agg(count(lit(1)).as("_nd"))
    docGram.join(gramDocs, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_nd") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_r", round(col("n_novel") / col("n_grams"), 6))
  }

  /** Content-defined chunking (CDC): split each document's token stream
    * after every token whose 60-bit hash ≡ 0 (mod `modulus`) — the
    * Rabin/gear boundary rule that makes chunk edges a function of
    * CONTENT rather than offsets, so an insertion early in a document
    * shifts at most its own chunk instead of re-chunking the whole tail
    * (the resync property fixed-window chunking lacks; Muthitacharoen,
    * Chen & Mazières, LBFS, SOSP'01). Expected chunk length ≈ `modulus`
    * tokens; chunk-level fingerprints are the unit of sub-document dedup
    * in storage systems and the natural complement to [[Dedup]]'s
    * whole-doc near-dup surface.
    *
    * Emits one row per (doc, chunk): 0-based `chunk_id`, `n_terms`, and
    * `chunk_md5` of the space-joined chunk text.
    *
    * Shape: posexplode → per-doc running boundary count (window
    * partitioned by doc: a task sorts ONE document's tokens, bounded by
    * max doc length, never corpus size) → hash-agg per (doc, chunk).
    * Chunk text is reassembled order-exactly via array_sort over
    * (pos, term) structs — collect_list order alone is not a contract
    * Spark makes. */
  def contentChunks(df: DataFrame, idCol: String, textCol: String,
      modulus: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(modulus > 0, "modulus must be > 0")
    val toks = df.select(col(idCol),
      posexplode(tokens(normalize(col(textCol)))).as(Seq("pos", "term")))
    val isBoundary =
      when(hash60(col("term")) % modulus === 0, 1L).otherwise(0L)
    // chunk = #boundaries strictly BEFORE this position: the boundary
    // token is the last token of its chunk
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id", coalesce(sum(isBoundary).over(wPrev), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_terms"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          s => s.getField("term")), " ")).as("chunk_md5"))
  }

  /** Distinct-n diversity per group: for each n in `ns`, the share of
    * DISTINCT n-grams among all n-gram instances — the standard
    * "distinct-1/2/3" lexical-diversity readout (Li et al. '16) that
    * flags template-y or self-repetitive corpus slices before they
    * teach a model to loop.
    *
    * Shape: grams are built MAP-SIDE with a transform/slice lambda over
    * each doc's token array (no self-join on position), then ONE
    * (group, n, gram) hash-agg followed by a (group, n) rollup — the
    * stacked-agg pattern, never a countDistinct Expand. Gram rows ≈
    * Σ|ns| × tokens, all pipeline-local before the first shuffle. */
  def distinctNgramRatio(df: DataFrame, groupCol: String,
      textCol: String, ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    val toks = df.select(col(groupCol),
      tokens(normalize(col(textCol))).as("_t"))
    val grams = ns.map { n =>
      // guard short docs: Spark's sequence(1, 0) DESCENDS ([1, 0]) and
      // slice errors at start 0 — an empty gram array is the semantics
      toks.select(col(groupCol), lit(n).as("n"),
        explode(expr(s"if(size(_t) >= $n, " +
          s"transform(sequence(1, size(_t) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(_t, i, $n))), " +
          "array())")).as("gram"))
    }.reduce(_ unionByName _)
    grams
      .groupBy(col(groupCol), col("n"), col("gram"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(groupCol), col("n"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("_c")).as("n_total"))
      .select(col(groupCol), col("n"), col("n_total"), col("n_distinct"),
        round(col("n_distinct") / col("n_total"), 6)
          .as("distinct_ratio_r"))
  }

  /** Flesch reading-ease over aggregate counts per group:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * the standard corpus heuristics — sentences = punctuation runs
    * ([.!?]+, min 1 per doc), syllables = vowel groups ([aeiouy]+ in
    * the lowercased text). The formula runs ONCE on per-group integer
    * totals (not per doc then averaged), so the only float arithmetic
    * is one shared parenthesization over exact sums. */
  def fleschAggregate(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val per = df.select(col(groupCol),
      size(tokens(normalize(col(textCol)))).cast("long").as("_w"),
      greatest(lit(1L), size(regexp_extract_all(col(textCol),
        lit("[.!?]+"), lit(0))).cast("long")).as("_s"),
      size(regexp_extract_all(lower(col(textCol)),
        lit("[aeiouy]+"), lit(0))).cast("long").as("_y"))
    per.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("_w")).as("n_words"),
        sum(col("_s")).as("n_sentences"), sum(col("_y")).as("n_syllables"))
      .select(col(groupCol), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables") / col("n_words")), 6)
          .as("flesch_r"))
  }

  /** Clipped-count ROUGE-2 between explicit document pairs: overlap =
    * Σ_g min(count_a(g), count_b(g)) over word bigrams (the q141
    * zip_with idiom on the shared normalize/tokens convention),
    * recall = overlap/|B_b| (b is the reference), precision =
    * overlap/|B_a|, F1 — the summarization-eval staple, useful in a
    * data pipeline as the asymmetric n-gram-containment complement to
    * symmetric Jaccard dedup. All counts exact integers; three
    * divisions at the end, round 6.
    *
    * `pairs` carries (keyCol, aCol, bCol); only documents referenced
    * by a pair are tokenized (semi-join prune), so cost scales with
    * the audited pair set, not the corpus. */
  def rouge2Pairs(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, keyCol: String, aCol: String,
      bCol: String): DataFrame = {
    val ids = pairs.select(col(aCol).as("_id"))
      .unionByName(pairs.select(col(bCol).as("_id"))).distinct()
    val toks = docs.select(col(idCol).as("_id"),
        tokens(normalize(col(textCol))).as("t"))
      .join(ids, Seq("_id"), "left_semi")
    val bi = toks.select(col("_id"), explode(expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |  slice(t, 2, greatest(size(t) - 1, 0)),
          |  (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("b"))
      .groupBy(col("_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val totals = bi.groupBy(col("_id")).agg(sum(col("cnt")).as("_nbi"))
    val ga = bi.select(col("_id").as("_ga"), col("w1"), col("w2"),
      col("cnt").as("_ca"))
    val gb = bi.select(col("_id").as("_gb"), col("w1").as("_w1b"),
      col("w2").as("_w2b"), col("cnt").as("_cb"))
    val ov = pairs
      .join(ga, col(aCol) === col("_ga"))
      .join(gb, col(bCol) === col("_gb") &&
        col("w1") === col("_w1b") && col("w2") === col("_w2b"))
      .groupBy(col(keyCol))
      .agg(sum(least(col("_ca"), col("_cb"))).as("overlap"))
    val withTotals = pairs
      .join(broadcast(totals.withColumnRenamed("_id", "_ta")
        .withColumnRenamed("_nbi", "n_bi_a")), col(aCol) === col("_ta"))
      .join(broadcast(totals.withColumnRenamed("_id", "_tb")
        .withColumnRenamed("_nbi", "n_bi_b")), col(bCol) === col("_tb"))
      .join(ov, Seq(keyCol), "left")
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
    val p = col("overlap").cast("double") / col("n_bi_a").cast("double")
    val r = col("overlap").cast("double") / col("n_bi_b").cast("double")
    withTotals.select(col(keyCol), col(aCol), col(bCol),
      col("n_bi_a"), col("n_bi_b"), col("overlap"),
      round(when(col("n_bi_b") > 0, r), 6).as("rouge2_recall_r"),
      round(when(col("n_bi_a") > 0, p), 6).as("rouge2_precision_r"),
      round(when(col("n_bi_a") > 0 && col("n_bi_b") > 0 && p + r > 0,
        lit(2.0) * p * r / (p + r)), 6).as("rouge2_f1_r"))
  }

  /** Heaps'-law fit V = K·N^β of vocabulary growth: order documents by
    * id, accumulate token count N and new-type count V (a type is
    * "new" in the doc where it FIRST appears = min doc id per term),
    * and fit ln V on ln N by OLS — β ≈ 0.5 is natural-language-normal;
    * β drifting toward 1 means the corpus keeps inventing vocabulary
    * (boilerplate ids, hashes), toward 0 means it's repeating itself.
    *
    * Shape: one tokenize pass → per-doc token counts; one distinct
    * (term, doc) pass → per-term first doc → per-doc new-type counts;
    * BOTH cumulatives run through [[Ranks.bandedRunningSum]] keyed on
    * doc id (the doc grain is corpus-sized — no unpartitioned window);
    * the ln-ln OLS uses 12-dp-rounded DECIMAL term sums. Returns one
    * row: n_docs, n_tokens, n_types, beta_r, k_r, r2_r. */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      bandWidth: Double = 256.0): DataFrame = {
    val toks = docs.select(col(idCol).as("_id"),
      tokens(normalize(col(textCol))).as("t"))
    val perDoc = toks.select(col("_id"), size(col("t")).as("_ntok"))
    val firstDoc = toks.select(col("_id"), explode(col("t")).as("w"))
      .distinct()
      .groupBy(col("w")).agg(min(col("_id")).as("_id"))
      .groupBy(col("_id")).agg(count(lit(1)).as("_nnew"))
    val joined = perDoc.join(firstDoc, Seq("_id"), "left")
      .withColumn("_nnew", coalesce(col("_nnew"), lit(0L)))
    val cumTok = Ranks.bandedRunningSum(
        joined.withColumn("_g", lit(0)), "_g", "_id", "_ntok",
        bandWidth)
      .withColumnRenamed("runsum", "_ncum")
    val cum = Ranks.bandedRunningSum(cumTok, "_g", "_id", "_nnew",
        bandWidth)
      .withColumnRenamed("runsum", "_vcum")
      .where(col("_ncum") >= 1 && col("_vcum") >= 1)
    val x = log(col("_ncum").cast("double"))
    val y = log(col("_vcum").cast("double"))
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val agg = cum.agg(count(lit(1)).as("n_docs"),
      max(col("_ncum")).as("n_tokens"), max(col("_vcum")).as("n_types"),
      sum(t12(x)).cast("double").as("_sx"),
      sum(t12(y)).cast("double").as("_sy"),
      sum(t12(x * x)).cast("double").as("_sxx"),
      sum(t12(x * y)).cast("double").as("_sxy"),
      sum(t12(y * y)).cast("double").as("_syy"))
    val n = col("n_docs").cast("double")
    val cxx = n * col("_sxx") - col("_sx") * col("_sx")
    val cxy = n * col("_sxy") - col("_sx") * col("_sy")
    val cyy = n * col("_syy") - col("_sy") * col("_sy")
    val beta = cxy / nullif(cxx, lit(0.0))
    val a = (col("_sy") - beta * col("_sx")) / n
    val ok = col("n_docs") >= 2 && cxx > 0
    agg.select(col("n_docs"), col("n_tokens"), col("n_types"),
      round(when(ok, beta), 6).as("beta_r"),
      round(when(ok, exp(a)), 6).as("k_r"),
      round(when(ok && cyy > 0, cxy * cxy / (cxx * cyy)), 6)
        .as("r2_r"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    * token co-occurrence graph (consecutive content tokens within each
    * document, symmetric, weight = corpus pair count), run weighted
    * PageRank
    *   r_j = (1−d)/N + d · Σ_i r_i · w_ij / outw_i,
    * `iters` times from the uniform start, and return the top-`topK`
    * tokens — centrality-based keywords instead of frequency-based
    * ([[Retrieval.bm25]]/tf-idf rank by counts; TextRank ranks by WHO a
    * token co-occurs with, so a mid-frequency token bridging many
    * contexts can outrank a frequent-but-insular one).
    *
    * Content tokens = length ≥ `minLen` after [[normalize]] (the
    * classic stopword proxy that keeps the graph engine-reproducible
    * without a lexicon). Adjacency is over the FILTERED per-doc
    * sequence (standard TextRank windowing), computed ROW-LOCALLY from
    * the filtered token array (posexplode of the array's prefix +
    * element_at for the successor — r15, guide §2.4): the former
    * per-doc row_number window (one corpus shuffle + sort), the
    * (doc, i) adjacency self-join and their localCheckpoint are gone;
    * the pair multiset is identical by construction (consecutive
    * elements of the same filtered sequence).
    *
    * The PageRank recursion itself is |vocab|-sized, not corpus-sized,
    * so it runs DRIVER-LOCAL on the collected (src, dst, w) edge list
    * (the bradleyTerry/topEigen posture — the former per-step
    * localCheckpoint chain paid ~0.2 s/step of pure fixed cost) behind
    * an edge-count valve (`spark.graft.driverLocal.textrankEdgeCap`,
    * default 2²⁰). Above the valve the distributed per-step loop runs
    * instead — both paths walk the same trajectory: each fan-in term
    * r_i·w_ij/outw_i is
    * 12-dp-rounded onto DECIMAL(28,12) before its order-independent
    * sum (hub tokens aggregate thousands of terms — a raw double sum
    * would be order-sensitive there), and the driver replay executes
    * the exact Round/Cast calls Spark codegen would. Returns topK
    * rows: rn, term, score_r (9 dp; ties broken by term ascending). */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      iters: Int = 6, damping: Double = 0.85, minLen: Int = 4,
      topK: Int = 20): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val sp = docs.sparkSession
    val arr = filter(tokens(normalize(col(textCol))),
      x => length(x) >= minLen)
    val adj = docs
      .select(arr.as("_a"))
      .where(size(col("_a")) >= 2)
      .select(col("_a"), posexplode(
        slice(col("_a"), lit(1), size(col("_a")) - 1))
          .as(Seq("_i", "_term")))
      .select(col("_term"),
        element_at(col("_a"), col("_i") + 2).as("_next"))
      .where(col("_term") =!= col("_next"))
    val edges = adj.select(col("_term").as("_src"), col("_next").as("_dst"))
      .unionByName(adj.select(col("_next").as("_src"),
        col("_term").as("_dst")))
      .groupBy(col("_src"), col("_dst"))
      .agg(count(lit(1)).as("_w"))
    // the graph is vocab-bounded, but vocab grows with data: a fallback,
    // not a loud failure
    val scored: DataFrame = DriverLocal.collectWithin(edges,
        "driverLocal.textrankEdgeCap", 1 << 20) match {
      case Some(es) => textRankLocal(sp, es.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))), iters, damping)
      case None => textRankDistributed(edges, iters, damping)
    }
    scored.orderBy(col("_r").desc, col("_term")).limit(topK)
      .select(col("_term").as("term"), round(col("_r"), 9).as("score_r"))
      .withColumn("rn", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("score_r").desc, col("term"))))
      .select(col("rn"), col("term"), col("score_r"))
  }

  /** Driver-local weighted-PageRank trajectory on the collected edge
    * list — bit-identical to [[textRankDistributed]]: every fan-in term
    * is rounded through the exact Round(12)+Cast(decimal(28,12)) pipeline
    * Spark codegen executes ([[DriverLocal.t12]]), partial sums are
    * exact decimals (order-independent), and the per-step rank expression is the same left-associated double
    * arithmetic. Returns a |vocab|-row (_term, _r) frame. */
  private def textRankLocal(sp: org.apache.spark.sql.SparkSession,
      es: Array[(String, String, Long)], iters: Int,
      damping: Double): DataFrame = {
    val outw: Map[String, Long] =
      es.groupBy(_._1).map { case (s0, rs) => s0 -> rs.map(_._3).sum }
    val nD = outw.size.toDouble
    var r: Map[String, Double] = outw.keysIterator.map(_ -> 1.0 / nD).toMap
    val byDst = es.groupBy(_._2)
    for (_ <- 1 to iters) {
      val prev = r
      r = byDst.map { case (dst, rs) =>
        var acc = java.math.BigDecimal.ZERO
        rs.foreach { case (s0, _, w0) =>
          acc = acc.add(
            DriverLocal.t12(prev(s0) * w0.toDouble / outw(s0).toDouble))
        }
        dst -> ((1.0 - damping) / nD + damping * acc.doubleValue)
      }
    }
    import sp.implicits._
    r.toSeq.toDF("_term", "_r")
  }

  /** The pre-r15 distributed iteration, kept as the over-valve path:
    * each step joins the checkpointed edge list against the rank frame
    * and hash-aggregates the 12-dp-gridded fan-in terms per target. */
  private def textRankDistributed(edges0: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val edges = edges0.localCheckpoint() // once per iteration + outw
    val outw = edges.groupBy(col("_src"))
      .agg(sum(col("_w")).as("_outw"))
      .localCheckpoint()
    val nV = outw.agg(count(lit(1)).cast("double").as("_n"))
    var r = outw.crossJoin(broadcast(nV))
      .select(col("_src").as("_term"), (lit(1.0) / col("_n")).as("_r"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      r = edges.join(outw, Seq("_src"))
        .join(r.select(col("_term").as("_term2"), col("_r")),
          col("_src") === col("_term2"))
        .groupBy(col("_dst"))
        .agg(sum(t12(col("_r") * col("_w").cast("double")
          / col("_outw").cast("double"))).cast("double").as("_in"))
        .crossJoin(broadcast(nV))
        .select(col("_dst").as("_term"),
          (lit(1.0 - damping) / col("_n")
            + lit(damping) * col("_in")).as("_r"))
        .localCheckpoint() // |vocab| rows; next iteration + final top-k
    }
    r
  }

  /** BPE TRAINING loop (Sennrich et al. 2016), the part q122\'s pair
    * counts only hint at: iteratively find the highest-count adjacent
    * symbol pair (ties lexicographic) and merge it corpus-wide,
    * `rounds` times. The scale shape is the real tokenizer-training
    * one: ONE corpus pass builds the (distinct word, count) vocab —
    * bounded far below the corpus — and every iteration runs on that
    * vocab alone (pair count = hash-agg weighted by word frequency,
    * merge = one literal string replace), with a localCheckpoint per
    * round (the fixed-step posture).
    *
    * Merge semantics: symbols are space-separated; the merge replaces
    * " x y " left-to-right non-overlapping over the ORIGINAL padded
    * string (both engines\' replace()), so a run like "a a a a" merges
    * to "aa a a" in one round, not "aa aa" — documented divergence
    * from classic BPE on runs of a repeated symbol (the next rounds
    * pick the remainder up; real text is unaffected). Returns one row
    * per round: round, pair, merged, n. */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one merge round")
    var vocab = df
      .select(explode(tokens(normalize(col(textCol)))).as("_w"))
      .where(length(col("_w")) >= 1)
      .groupBy(col("_w")).agg(count(lit(1)).as("_cnt"))
      .select(trim(regexp_replace(col("_w"), "(.)", "$1 ")).as("_repr"),
        col("_cnt"))
      .localCheckpoint() // every round reads the current vocab
    val picks = (1 to rounds).map { i =>
      val best = vocab
        .withColumn("_t", split(col("_repr"), " "))
        .where(size(col("_t")) >= 2)
        .select(explode(expr("transform(sequence(1, size(_t) - 1), " +
          "j -> concat(element_at(_t, j), ' ', element_at(_t, j + 1)))"))
          .as("pair"), col("_cnt"))
        .groupBy(col("pair")).agg(sum(col("_cnt")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1)
        .localCheckpoint() // 1-row pick; consumed by merge AND output
      vocab = vocab.crossJoin(broadcast(best))
        .select(trim(replace(
          concat(lit(" "), col("_repr"), lit(" ")),
          concat(lit(" "), col("pair"), lit(" ")),
          concat(lit(" "), regexp_replace(col("pair"), " ", ""),
            lit(" ")))).as("_repr"), col("_cnt"))
        .localCheckpoint() // next round's vocab
      best.select(lit(i).as("round"), col("pair"),
        regexp_replace(col("pair"), " ", "").as("merged"), col("n"))
    }
    picks.reduce(_ unionByName _).orderBy("round")
  }

  /** Burrows' Delta (Burrows 2002), the stylometric distance the
    * authorship-attribution literature standardized on: z-score each
    * source's relative frequency of the corpus's top-`topK` terms
    * against the across-source mean/σ, then Delta(a,b) = mean_t
    * |z_at − z_bt|. High Delta = stylistically distant sources — the
    * duplicated-boilerplate / single-author-farm detector at corpus
    * scale. One token pass to the (source, term) grain; the top-K cut,
    * the per-term moments and the source-pair matrix all live on
    * bounded grids (topK terms × |sources|). Zero-σ terms contribute
    * NULL z and are excluded pairwise via the t12 sum of coalesced
    * |Δz| (documented: a term used identically everywhere carries no
    * stylometric signal). Returns one row per source pair (a < b):
    * source_a, source_b, n_terms, delta_r. */
  def burrowsDelta(docs: DataFrame, groupCol: String, textCol: String,
      topK: Int): DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val tok = docs.select(col(groupCol).as("_g"),
        explode(tokens(normalize(col(textCol)))).as("_t"))
      .localCheckpoint() // top-K cut + per-source counts read it
    val top = tok.groupBy(col("_t")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("_t").asc)
      .limit(topK)
      .select(col("_t"))
    val tot = tok.groupBy(col("_g")).agg(count(lit(1)).as("_tot"))
    val st = tok.join(broadcast(top), Seq("_t"))
      .groupBy(col("_g"), col("_t")).agg(count(lit(1)).as("_c"))
    // dense (source x term) grid: absent cells are zero frequency
    val grid = tot.crossJoin(broadcast(top))
      .join(st, Seq("_g", "_t"), "left")
      .select(col("_g"), col("_t"),
        (coalesce(col("_c"), lit(0L)).cast("double")
          / col("_tot").cast("double")).as("_f"))
    val mom = grid.groupBy(col("_t"))
      .agg(count(lit(1)).cast("double").as("_ng"),
        sum(t12(col("_f"))).cast("double").as("_s1"),
        sum(t12(col("_f") * col("_f"))).cast("double").as("_s2"))
      .select(col("_t"), (col("_s1") / col("_ng")).as("_mu"),
        sqrt(greatest(col("_s2") / col("_ng")
          - (col("_s1") / col("_ng")) * (col("_s1") / col("_ng")),
          lit(0.0))).as("_sd"))
    val z = grid.join(broadcast(mom), Seq("_t"))
      .select(col("_g"), col("_t"),
        ((col("_f") - col("_mu")) / nullif(col("_sd"), lit(0.0)))
          .as("_z"))
    val za = z.select(col("_g").as("source_a"), col("_t"),
      col("_z").as("_za"))
    val zb = z.select(col("_g").as("source_b"), col("_t"),
      col("_z").as("_zb"))
    za.join(zb, Seq("_t"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(when(col("_za").isNotNull && col("_zb").isNotNull, 1L)
          .otherwise(0L)).as("n_terms"),
        sum(t12(coalesce(abs(col("_za") - col("_zb")), lit(0.0))))
          .cast("double").as("_sd2"))
      .select(col("source_a"), col("source_b"), col("n_terms"),
        round(col("_sd2") / col("n_terms").cast("double"), 6)
          .as("delta_r"))
  }

  /** Multinomial naive-Bayes language identifier over HASHED char
    * n-gram features, trained and applied in ONE relational pipeline
    * (resubstitution evaluation — documented; the point is the
    * distributed train/apply shape, not held-out accuracy): per-class
    * feature counts with Laplace smoothing on a `buckets`-bounded
    * hashed vocabulary, priors from class shares, per-(doc, class)
    * log-likelihood = ln prior + Σ_grams ln((c+α)/(tot+α·B)) — absent
    * (class, bucket) cells contribute the smoothed floor via the LEFT
    * join. The model is two bounded grids (|classes|·B + |classes|
    * rows) a production pipeline would persist; apply is one gram pass
    * × |classes|. Log terms ride the 12-dp grid; argmax ties break on
    * class ascending. Returns the confusion matrix
    * (true_lang, pred_lang, n_docs). */
  def naiveBayesLangConfusion(docs: DataFrame, idCol: String,
      textCol: String, langCol: String, buckets: Int,
      gramN: Int = 3): DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    // ONE gram/md5 pass, immediately reduced to the (doc, bucket, n)
    // grain and materialized — it feeds both training and apply (the
    // unreduced twin ran the hash pass twice and fanned raw gram
    // instances by |classes|; measured 29 s → the reduced shape below)
    // gram + hash fused into one array kernel (Hash60Grams): the row
    // stream between the scan and the explode is one array<long> per
    // document instead of one UTF8String row per gram — the explode
    // then fans out 8-byte longs, not string copies (value-identical;
    // Hash60ParitySpec pins the gram kernel against the
    // transform+substring+hash chain it replaced)
    // r15: the (doc, bucket) reduction is keyed ONLY by in-row values,
    // so it runs row-local in the bucket_counts kernel (sort + run-
    // length over the doc's residues) — the explode now fans out one
    // struct per DISTINCT (doc, bucket) and the gram-instance shuffle
    // + hash-agg probe disappear entirely (counts identical; guide
    // §2.4 — a shuffle whose groups never cross rows is no shuffle)
    val docBuckets = docs
      .select(col(idCol), col(langCol).as("_true"),
        normalize(col(textCol)).as("_t"))
      .select(col(idCol), col("_true"),
        explode(graft.expr.BucketCounts.bucket_counts(
          graft.expr.Hash60Kernel.gramHashesCol(col("_t"), gramN),
          buckets)).as("_bc"))
      .select(col(idCol), col("_true"),
        col("_bc.b").as("_b"), col("_bc.n").as("_n"))
      .localCheckpoint()
    val counts = docBuckets.groupBy(col("_true").as("_lang"), col("_b"))
      .agg(sum(col("_n")).as("_c"))
    val tot = counts.groupBy(col("_lang")).agg(sum(col("_c")).as("_tot"))
    val prior = docs.groupBy(col(langCol).as("_lang"))
      .agg(count(lit(1)).as("_ndl"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("_nd"))))
      .select(col("_lang"),
        round(log(col("_ndl").cast("double")
          / col("_nd").cast("double")), 12).as("_lnprior"))
    // the FULL (class × bucket) log-prob grid, absent cells at the
    // Laplace floor — |classes|·B rows, the model a pipeline persists
    val lpGrid = docs.sparkSession.range(0, buckets).toDF("_b")
      .crossJoin(tot.join(prior, Seq("_lang")))
      .join(counts, Seq("_lang", "_b"), "left")
      .select(col("_lang"), col("_b"), col("_lnprior"),
        round(log((coalesce(col("_c"), lit(0L)).cast("double") + 1.0)
          / (col("_tot").cast("double") + buckets)), 12).as("_lp"))
    // score via the WIDE grid: pivoting lpGrid to one row per bucket
    // (|langs| lp columns) lets the (doc, bucket, n) stream join ONCE
    // and aggregate |langs| decimal sums per doc instead of fanning out
    // ×|langs| rows through the join and the hash agg (guide §2.3 —
    // same t12-decimal terms, summed per column: order-free and
    // value-identical). The pivot's internal distinct-langs collect is
    // a |langs|-row job over the checkpointed docBuckets rollup.
    val lpWide0 = lpGrid.groupBy(col("_b"))
      .pivot("_lang").agg(first(col("_lp")))
    val langs = lpWide0.columns.filter(_ != "_b")
    // backtick-quote the data-derived column names: a lang value
    // containing '.' (or '`') would otherwise parse as a nested-field
    // reference in col(...) and fail analysis (r14 ADVICE)
    def bq(n: String): String = "`" + n.replace("`", "``") + "`"
    val lpWide = lpWide0.toDF("_b" +: langs.map(l => s"_lp_$l"): _*)
    // r15: the rounded per-row term t12(lp_l · n) is a pure function of
    // (bucket, n) — round it ONCE per DISTINCT (b, n) pair on a
    // broadcast grid instead of once per (doc, bucket) row × |langs|
    // (measured 3.5M round+cast ops → ~10k; the doc-grain agg then sums
    // pre-built decimals, which is exact and order-free, so the values
    // are identical by construction). Valve: if the (b, n) grid is not
    // actually small (pathological count dispersion), fall back to the
    // inline per-row rounding — same values either way.
    val bnPairs = docBuckets.select(col("_b"), col("_n")).distinct()
    val bnCount = bnPairs.count()
    val scoredWide = if (bnCount <= 262144) {
      val termCols = langs.map(l =>
        t12(col(bq(s"_lp_$l")) * col("_n")).as(s"_tm_$l"))
      val bnGrid = bnPairs.join(lpWide, Seq("_b"))
        .select(col("_b") +: col("_n") +: termCols: _*)
        .localCheckpoint()
      // exact long fast path: every doc carries at most ONE row per
      // bucket (BucketCounts emits distinct residues), so the per-doc
      // sum is bounded by maxAbsTerm · buckets. When that bound — in
      // the term's own 1e-12 units — stays far under Long.MaxValue,
      // sum the UNSCALED 12-dp longs in pure codegen and rebuild the
      // decimal afterwards: integer arithmetic both ways, so the
      // resulting doubles are bit-identical to the decimal sums.
      val maxAbs = bnGrid.select(
          max(greatest(langs.map(l => abs(col(bq(s"_tm_$l")))): _*))
            .as("m")).head.getDecimal(0)
      val longSafe = maxAbs == null ||
        maxAbs.doubleValue() * buckets.toDouble * 1e12 < 4.0e18
      if (longSafe) {
        val pico = lit(new java.math.BigDecimal(1000000000000L))
        val tlCols = langs.map(l =>
          (col(bq(s"_tm_$l")) * pico).cast("long").as(s"_tl_$l"))
        val bnGridL = bnGrid.select(col("_b") +: col("_n") +: tlCols: _*)
        val inv = lit(new java.math.BigDecimal("0.000000000001"))
        val llCols = langs.map(l =>
          (sum(col(bq(s"_tl_$l"))).cast("decimal(20,0)") * inv)
            .cast("double").as(s"_ll_$l"))
        docBuckets
          .join(broadcast(bnGridL), Seq("_b", "_n"))
          .groupBy(col(idCol), col("_true"))
          .agg(llCols.head, llCols.tail: _*)
      } else {
        val llCols = langs.map(l =>
          sum(col(bq(s"_tm_$l"))).cast("double").as(s"_ll_$l"))
        docBuckets
          .join(broadcast(bnGrid), Seq("_b", "_n"))
          .groupBy(col(idCol), col("_true"))
          .agg(llCols.head, llCols.tail: _*)
      }
    } else {
      val llCols = langs.map(l =>
        sum(t12(col(bq(s"_lp_$l")) * col("_n"))).cast("double")
          .as(s"_ll_$l"))
      docBuckets
        .join(broadcast(lpWide), Seq("_b"))
        .groupBy(col(idCol), col("_true"))
        .agg(llCols.head, llCols.tail: _*)
    }
    val melted = scoredWide.select(col(idCol), col("_true"),
      explode(map(langs.flatMap(l =>
        Seq(lit(l), col(bq(s"_ll_$l")))): _*)).as(Seq("_lang", "_ll")))
    val scored = melted
      .join(broadcast(prior), Seq("_lang"))
      .select(col(idCol), col("_true"), col("_lang"),
        round(col("_lnprior") + col("_ll"), 9).as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("_score").desc, col("_lang").asc)
    scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .groupBy(col("_true").as("true_lang"),
        col("_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Good–Turing frequency re-estimation (Good 1953) over the corpus
    * word-n-gram counts (n = 4 by default: the driver fixture's 31-term
    * vocabulary makes UNIGRAM counts all huge — no low-count region to
    * smooth; 4-gram types are numerous enough to have real
    * singleton/doubleton mass, the regime GT exists for) — the smoothing table a language-model/tokenizer
    * pipeline publishes: for each raw count r, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r (N_r = number of DISTINCT terms seen
    * exactly r times), the smoothed probability p_gt = r∗ / N, and the
    * unseen-mass estimate P₀ = N₁/N riding every row. Rows are emitted
    * for r ≤ `maxR` with N_{r+1} > 0 — the low-count region where GT
    * correction matters (the high-count tail keeps its MLE).
    *
    * Scale shape: one tokenize pass → term-count hash-agg → count-of-
    * counts hash-agg; everything after the second agg lives on the
    * frequency-of-frequencies GRID (≤ max term count rows — thousands,
    * not corpus-sized), where the N_{r+1} lookup is a self-join on the
    * grid. Returns (r, n_r, n_r_next, r_star_r, p_gt_r, p0_r). */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String,
      maxR: Int = 10, n: Int = 4): DataFrame = {
    val counts = docs
      .select(tokens(normalize(col(textCol))).as("_toks"))
      .select(explode(expr(Dedup.kGramExpr("_toks", n,
        distinct = false))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    val fof = counts.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = counts.agg(sum(col("r")).as("_n"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).as("_f1"))
    fof
      .join(fof.select((col("r") - 1).as("r"),
        col("n_r").as("n_r_next")), Seq("r"))
      .where(col("r") <= maxR)
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), col("n_r_next"),
        round((col("r") + 1).cast("double") * col("n_r_next")
          / col("n_r"), 6).as("r_star_r"),
        round((col("r") + 1).cast("double") * col("n_r_next")
          / col("n_r") / col("_n"), 6).as("p_gt_r"),
        round(col("_f1").cast("double") / col("_n"), 6).as("p0_r"))
      .orderBy(col("r"))
  }

  /** Chao1 vocabulary-richness estimate + Good's sample coverage per
    * group (Chao 1984; Good 1953): from each group's term counts,
    * V = observed distinct types (word n-grams — see [[goodTuring]] on
    * why not unigrams here), f₁/f₂ = singleton/doubleton type counts, the bias-corrected Chao1 V̂ = V + f₁(f₁−1)/(2(f₂+1))
    * (defined even when f₂ = 0), and coverage Ĉ = 1 − f₁/N — "what
    * fraction of the corpus' token mass comes from types we've already
    * seen", the number that says whether MORE data would still grow
    * the vocabulary. The corpus-size sibling of the q399 capture–
    * recapture audit, on types instead of documents.
    *
    * Scale: (group, term) hash-agg → per-group rollup; output is the
    * |groups| grid. */
  def chao1Richness(docs: DataFrame, groupCol: String,
      textCol: String, n: Int = 4): DataFrame = {
    val counts = docs
      .select(col(groupCol),
        tokens(normalize(col(textCol))).as("_toks"))
      .select(col(groupCol), explode(expr(Dedup.kGramExpr("_toks", n,
        distinct = false))).as("w"))
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("r"))
    counts.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_types"),
        sum(col("r")).as("n_tokens"),
        sum(when(col("r") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("r") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col(groupCol), col("n_types"), col("n_tokens"),
        col("f1"), col("f2"),
        round(col("n_types").cast("double")
          + col("f1").cast("double") * (col("f1") - 1).cast("double")
            / (lit(2.0) * (col("f2") + 1).cast("double")), 6)
          .as("chao1_r"),
        round(lit(1.0) - col("f1").cast("double")
          / col("n_tokens").cast("double"), 6).as("coverage_r"))
      .orderBy(col(groupCol))
  }
  /** Shifted positive PMI (the SGNS-equivalent co-occurrence statistic,
    * Levy & Goldberg 2014): directed skip-gram pairs within ±`window`
    * token positions, SPPMI(w,c) = max(ln(#wc·D / (#w·#c)) − ln k, 0)
    * with marginals and the total D taken from the pair frame itself.
    * Emits the `topK` strongest unordered pairs with support ≥
    * `minCount` (symmetric counts — the unordered filter only halves
    * the display).
    *
    * Shape: posexplode (linear), forward-offset equi-join on
    * (doc, pos+off) — a ×window fan-out, never a corpus self-join on
    * token value — then bounded-vocab marginal joins. */
  def sppmiTopPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int, shiftK: Double, minCount: Long,
      topK: Int): DataFrame = {
    require(window >= 1 && shiftK >= 1 && topK >= 1)
    val s = docs.sparkSession
    val toks = docs.select(col(idCol).as("_id"),
        posexplode(tokens(normalize(col(textCol))))
          .as(Seq("_pos", "_tok")))
      .localCheckpoint()
    val offs = s.range(1, window + 1L).select(col("id").as("_off"))
    val fwd = toks.crossJoin(broadcast(offs))
      .select(col("_id"), (col("_pos") + col("_off")).as("_pos"),
        col("_tok").as("_w"))
      .join(toks.select(col("_id"), col("_pos"),
        col("_tok").as("_c")), Seq("_id", "_pos"))
      .select(col("_w"), col("_c"))
    val directed = fwd.unionByName(
      fwd.select(col("_c").as("_w"), col("_w").as("_c")))
    val cnt = directed.groupBy(col("_w"), col("_c"))
      .agg(count(lit(1)).as("_cwc")).localCheckpoint()
    val margW = cnt.groupBy(col("_w")).agg(sum(col("_cwc")).as("_cw"))
    val margC = cnt.groupBy(col("_c")).agg(sum(col("_cwc")).as("_cc"))
    val total = cnt.agg(sum(col("_cwc")).as("_d"))
    val scored = cnt.where(col("_w") < col("_c")
        && col("_cwc") >= minCount)
      .join(margW, Seq("_w")).join(margC, Seq("_c"))
      .crossJoin(broadcast(total))
      .withColumn("_sppmi", greatest(
        log(col("_cwc").cast("double") * col("_d").cast("double")
          / (col("_cw").cast("double") * col("_cc").cast("double")))
        - lit(math.log(shiftK)), lit(0.0)))
    scored.orderBy(col("_sppmi").desc, col("_w").asc, col("_c").asc)
      .limit(topK)
      .select(col("_w").as("w"), col("_c").as("c"),
        col("_cwc").as("n_pair"), round(col("_sppmi"), 6).as("sppmi_r"))
      .orderBy(col("sppmi_r").desc, col("w").asc, col("c").asc)
  }

  /** Rarefaction curve (with-replacement multinomial form): expected
    * distinct vocabulary at subsample size m = ⌊N·f⌋ per fraction f:
    * E[V(m)] = Σ_types (1 − (1 − n_t/N)^m), each power evaluated as
    * exp(round(m·ln(max(1 − n_t/N, 1e−15)), 12)) so both engines walk
    * the identical double; terms ride the 12-dp grid over the vocab
    * grain. The species-accumulation readout that says whether more
    * data still buys new vocabulary. */
  def rarefactionCurve(docs: DataFrame, textCol: String,
      fracs: Seq[Double]): DataFrame = {
    require(fracs.nonEmpty)
    val s = docs.sparkSession
    import s.implicits._
    def t12r(c: Column) = round(c, 12).cast("decimal(28,12)")
    val tc = docs.select(explode(tokens(normalize(col(textCol))))
        .as("_tok"))
      .groupBy(col("_tok")).agg(count(lit(1)).as("_n"))
      .localCheckpoint()
    val tot = tc.agg(sum(col("_n")).as("_bign"),
      count(lit(1)).as("_v"))
    val grid = fracs.map(f => Tuple1(f)).toDF("frac")
    grid.crossJoin(broadcast(tot))
      .withColumn("m", floor(col("_bign").cast("double") * col("frac"))
        .cast("long"))
      .join(tc.crossJoin(broadcast(tot)).select(col("_tok"), col("_n"),
        col("_bign").as("_bn2")), col("_bign") === col("_bn2"))
      .groupBy(col("frac"), col("m"), col("_v"))
      .agg(sum(t12r(lit(1.0) - exp(round(col("m").cast("double")
          * log(greatest(lit(1.0) - col("_n").cast("double")
            / col("_bign").cast("double"), lit(1e-15))), 12))))
        .cast("double").as("_e"))
      .select(col("frac"), col("m"), col("_v").as("v_total"),
        round(col("_e"), 6).as("e_distinct_r"))
      .orderBy(col("frac"))
  }

  /** Moving-average type–token ratio (Covington & McFall's MATTR):
    * the sliding-window fix for TTR's document-length bias — every
    * length-`window` span contributes its own type count, and the
    * per-doc score is the mean. Documents shorter than the window are
    * excluded (both engines, same predicate). Returns per group:
    * n_docs, mattr_r (mean of per-doc MATTRs, 12-dp terms).
    *
    * Shape: posexplode → each token fans out MAP-SIDE to the ≤window
    * spans containing it (`sequence` bounds, never a self-join) →
    * one distinct + two hash-aggs. Work is tokens × window, linear in
    * the corpus for fixed window; no window function anywhere. */
  def mattr(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, window: Int = 25): DataFrame = {
    require(window >= 2)
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val toks = docs.select(col(groupCol), col(idCol),
      posexplode(tokens(normalize(col(textCol)))).as(Seq("_p", "_tok")))
    val withN = toks.join(
      toks.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
        .where(col("_n") >= window),
      Seq(idCol))
    val spans = withN.select(col(groupCol), col(idCol), col("_tok"),
      explode(sequence(greatest(lit(0), col("_p") - (window - 1)),
        least(col("_p"), col("_n") - window))).as("_s"))
    val types = spans
      .select(col(groupCol), col(idCol), col("_s"), col("_tok"))
      .distinct()
      .groupBy(col(groupCol), col(idCol), col("_s"))
      .agg(count(lit(1)).as("_v"))
    val perDoc = types.groupBy(col(groupCol), col(idCol))
      .agg((sum(col("_v")).cast("double")
        / (count(lit(1)) * window).cast("double")).as("_mattr"))
    perDoc.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(t12(col("_mattr"))).as("_sm"))
      .select(col(groupCol), col("n_docs"),
        round(col("_sm").cast("double") / col("n_docs").cast("double"),
          6).as("mattr_r"))
  }

  /** Corpus vocabulary-richness panel from the frequency spectrum:
    * Yule's K = 10⁴·(Σf² − N)/N² (repeat-rate concentration, length-
    * robust), Simpson's D = Σf(f−1)/(N(N−1)), Herdan's C = lnV/lnN,
    * Honoré's R = 100·lnN/(1 − V₁/V) (hapax-driven; null when every
    * type is a hapax), Sichel's S = V₂/V. One token pass → one
    * (type) hash-agg → closed forms on exact integer moments.
    * Returns one row: n_tokens, vocab, v1, v2, yule_k_r, simpson_r,
    * herdan_r, honore_r, sichel_r. */
  def vocabRichness(docs: DataFrame, textCol: String): DataFrame = {
    val freq = docs
      .select(explode(tokens(normalize(col(textCol)))).as("_tok"))
      .groupBy(col("_tok")).agg(count(lit(1)).as("_f"))
    val agg = freq.agg(sum(col("_f")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(col("_f") * col("_f")).as("_f2"),
      sum(when(col("_f") === 1, 1L).otherwise(0L)).as("v1"),
      sum(when(col("_f") === 2, 1L).otherwise(0L)).as("v2"))
    val nD = col("n_tokens").cast("double")
    val vD = col("vocab").cast("double")
    agg.select(col("n_tokens"), col("vocab"), col("v1"), col("v2"),
      round(lit(10000.0) * (col("_f2") - col("n_tokens")).cast("double")
        / (nD * nD), 6).as("yule_k_r"),
      round((col("_f2") - col("n_tokens")).cast("double")
        / (nD * (nD - 1)), 6).as("simpson_r"),
      round(log(vD) / log(nD), 6).as("herdan_r"),
      round(when(col("v1") < col("vocab"),
        lit(100.0) * log(nD)
          / (lit(1.0) - col("v1").cast("double") / vD)), 6)
        .as("honore_r"),
      round(col("v2").cast("double") / vD, 6).as("sichel_r"))
  }

  /** Hill-number diversity ladder + Pielou evenness per group:
    * ⁰D = V (richness), ¹D = exp(H) (Shannon-effective types),
    * ²D = 1/λ (Simpson-effective types, λ = Σf²/N² with-replacement),
    * J = H/lnV. The three Hill orders answer "how many EQUALLY-COMMON
    * types would look like this corpus" under increasingly
    * dominance-sensitive lenses — the slice-balance dashboard for a
    * mixture. H accumulates 12-dp −p·ln p terms and is pinned to the
    * grid before exp (the emStep idiom). Returns per group: n_tokens,
    * hill0, hill1_r, hill2_r, pielou_r. */
  def hillEvenness(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val freq = docs
      .select(col(groupCol),
        explode(tokens(normalize(col(textCol)))).as("_tok"))
      .groupBy(col(groupCol), col("_tok"))
      .agg(count(lit(1)).as("_f"))
    val tot = freq.groupBy(col(groupCol))
      .agg(sum(col("_f")).as("_n"))
    val p = col("_f").cast("double") / col("_n").cast("double")
    val agg = freq.join(tot, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("_n")).as("n_tokens"),
        count(lit(1)).as("hill0"),
        sum(t12(-p * log(p))).as("_h"),
        sum(col("_f") * col("_f")).as("_f2"))
    val h = round(col("_h").cast("double"), 12)
    val nD = col("n_tokens").cast("double")
    agg.select(col(groupCol), col("n_tokens"), col("hill0"),
      round(exp(h), 6).as("hill1_r"),
      round(nD * nD / col("_f2").cast("double"), 6).as("hill2_r"),
      round(when(col("hill0") >= 2,
        h / log(col("hill0").cast("double"))), 6).as("pielou_r"))
  }

  /** Chao2 INCIDENCE-based richness: the unseen-vocabulary estimator
    * from document presence/absence rather than token abundance (the
    * sampling unit is the DOCUMENT — the right frame when corpus
    * growth means "more documents", which is how training corpora
    * grow). With Q₁/Q₂ = types appearing in exactly 1/2 documents and
    * m documents:
    *   Ŝ = S_obs + ((m−1)/m)·Q₁²/(2Q₂)   (bias-corrected form when
    *   Q₂ = 0: ((m−1)/m)·Q₁(Q₁−1)/2).
    * The abundance sibling is Chao1 (q410). Returns one row: n_docs,
    * s_obs, q1, q2, chao2_r. */
  def chao2Incidence(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val inc = docs.select(col(idCol),
        explode(tokens(normalize(col(textCol)))).as("_tok"))
      .distinct()
    val nd = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val perTok = inc.groupBy(col("_tok"))
      .agg(count(lit(1)).as("_q"))
    val agg = perTok.agg(count(lit(1)).as("s_obs"),
        sum(when(col("_q") === 1, 1L).otherwise(0L)).as("q1"),
        sum(when(col("_q") === 2, 1L).otherwise(0L)).as("q2"))
      .crossJoin(broadcast(nd))
    val mD = col("n_docs").cast("double")
    val corr = (mD - 1) / mD
    agg.select(col("n_docs"), col("s_obs"), col("q1"), col("q2"),
      round(col("s_obs").cast("double")
        + when(col("q2") > 0,
          corr * (col("q1") * col("q1")).cast("double")
            / (lit(2.0) * col("q2").cast("double")))
          .otherwise(corr
            * (col("q1") * (col("q1") - 1)).cast("double") / 2), 6)
        .as("chao2_r"))
  }

  /** Self-BLEU-2 over a deterministic md5 sample of the corpus: the
    * diversity audit for generated/curated text — HIGH self-BLEU
    * means the corpus repeats itself. For each ordered pair (cand,
    * ref) in the sample: modified n-gram precisions p₁, p₂ (clipped
    * counts), brevity penalty exp(1 − lenR/lenC) when the candidate
    * is shorter, BLEU = BP·√(p₁p₂) (pow-free geometric mean; 0 when
    * either precision is 0). Returns one row: k_docs, n_pairs,
    * self_bleu_r.
    *
    * Shape: the sample is a k-row TakeOrderedAndProject on md5(id)
    * (the Curation sampling idiom); gram tables are built ONCE for
    * the k docs and pair-joined on the gram hash — k²-bounded,
    * corpus-scan-free after the sample. The audit-scale contract: k
    * is a constant (default 16); production sweeps shard the sample,
    * never widen the pair grid. */
  def selfBleuSampled(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame = {
    require(k >= 2)
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val s = docs.sparkSession
    val sample = docs
      .select(col(idCol).as("_id"),
        tokens(normalize(col(textCol))).as("_t"),
        md5(col(idCol).cast("string")).as("_ord"))
      .orderBy(col("_ord")).limit(k)
      .select(col("_id"), col("_t"), size(col("_t")).as("_len"))
      .where(col("_len") >= 2) // a 1-token doc has no bigrams (÷0)
      .localCheckpoint() // k rows; feeds grams, lengths and the grid
    def grams(n: Int) = sample
      .select(col("_id"),
        explode(sequence(lit(0), col("_len") - n)).as("_p"),
        col("_t"))
      .select(col("_id"),
        concat_ws("",
          (0 until n).map(i => col("_t")(col("_p") + i)): _*)
          .as("_g"))
      .groupBy(col("_id"), col("_g")).agg(count(lit(1)).as("_c"))
    def clipped(n: Int) = {
      val g = grams(n)
      g.select(col("_id").as("_cand"), col("_g"), col("_c"))
        .join(g.select(col("_id").as("_ref"), col("_g"),
          col("_c").as("_cr")), Seq("_g"))
        .where(col("_cand") =!= col("_ref"))
        .groupBy(col("_cand"), col("_ref"))
        .agg(sum(least(col("_c"), col("_cr"))).as(s"_clip$n"))
    }
    val grid = sample.select(col("_id").as("_cand"),
        col("_len").as("_lc"))
      .crossJoin(sample.select(col("_id").as("_ref"),
        col("_len").as("_lr")))
      .where(col("_cand") =!= col("_ref"))
    val scored = grid
      .join(clipped(1), Seq("_cand", "_ref"), "left")
      .join(clipped(2), Seq("_cand", "_ref"), "left")
      .select(
        (coalesce(col("_clip1"), lit(0L)).cast("double")
          / col("_lc").cast("double")).as("_p1"),
        (coalesce(col("_clip2"), lit(0L)).cast("double")
          / (col("_lc") - 1).cast("double")).as("_p2"),
        when(col("_lc") > col("_lr"), lit(1.0))
          .otherwise(exp(round(lit(1.0)
            - col("_lr").cast("double") / col("_lc").cast("double"),
            12))).as("_bp"))
    val bleu = when(col("_p1") > 0 && col("_p2") > 0,
      col("_bp") * sqrt(col("_p1") * col("_p2"))).otherwise(lit(0.0))
    // k_docs is the ACTUAL sampled-doc count — the limit-k sample is
    // shrunk by the _len >= 2 filter (and by corpora smaller than k),
    // so lit(k) could overstate the docs scored (round-12 ADVICE).
    val kd = sample.agg(countDistinct(col("_id")).as("k_docs"))
    scored.agg(count(lit(1)).as("n_pairs"),
        sum(t12(bleu)).as("_sb"))
      .crossJoin(broadcast(kd))
      .select(col("k_docs"), col("n_pairs"),
        round(col("_sb").cast("double") / col("n_pairs").cast("double"),
          6).as("self_bleu_r"))
  }

  /** Church-Gale term burstiness over a FIXED term list: per term,
    * df (documents containing it), cf (total occurrences),
    * burstiness = cf/df (mean within-doc count given presence) and
    * adaptation = P(tf >= 2 | tf >= 1) (Church 2000: the probability
    * of a SECOND occurrence, which for real text far exceeds the
    * Poisson prediction) -- the per-term clumping complement of the
    * corpus-level [[vocabRichness]] spectrum. The term list is a
    * literal contract shared with the oracle; unseen terms zero-fill
    * with null ratios. Exact integer counts, two final divisions.
    * Returns one row per term: term, df, cf, df_multi, burstiness_r,
    * adaptation_r. */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    val s = df.sparkSession
    import s.implicits._
    val dt = df.select(col(idCol),
        explode(tokens(normalize(col(textCol)))).as("_t"))
      .filter(col("_t").isin(terms: _*))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
    val per = dt.groupBy(col("_t").as("term"))
      .agg(count(lit(1)).as("df"), sum(col("_tf")).as("cf"),
        sum(when(col("_tf") >= 2, 1L).otherwise(0L)).as("df_multi"))
    broadcast(terms.toDF("term")).join(per, Seq("term"), "left")
      .select(col("term"), coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("cf"), lit(0L)).as("cf"),
        coalesce(col("df_multi"), lit(0L)).as("df_multi"))
      .select(col("term"), col("df"), col("cf"), col("df_multi"),
        round(when(col("df") > 0,
          col("cf").cast("double") / col("df").cast("double")), 6)
          .as("burstiness_r"),
        round(when(col("df") > 0,
          col("df_multi").cast("double") / col("df").cast("double")),
          6).as("adaptation_r"))
      .orderBy(col("term"))
  }

  /** Hapax-legomena attribution per source: which slice contributes
    * the corpus's UNIQUE vocabulary? A global tf = 1 term belongs to
    * exactly one (source, doc); per source we report its token share,
    * its hapax share, and the lift (hapax share / token share) -- a
    * lift >> 1 names the slice whose text is lexically freshest (or
    * noisiest), the cross-source complement of [[ngramNovelty]]'s
    * per-document readout. One tokenize pass; exact integers into
    * two shared ratios. Returns per source: source, n_tokens,
    * n_hapax, token_share_r, hapax_share_r, lift_r. */
  def hapaxAttribution(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val st = df.select(col(sourceCol).as("source"),
        explode(tokens(normalize(col(textCol)))).as("_t"))
      .groupBy(col("source"), col("_t")).agg(count(lit(1)).as("_n"))
      .localCheckpoint()
    val hapax = st.groupBy(col("_t")).agg(sum(col("_n")).as("_tf"))
      .filter(col("_tf") === 1).select(col("_t"))
    val perSrc = st.groupBy(col("source"))
      .agg(sum(col("_n")).as("n_tokens"))
    val hapSrc = st.join(hapax, Seq("_t"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_hapax"))
    val joined = perSrc.join(hapSrc, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
    val tot = joined.agg(sum(col("n_tokens")).as("_tt"),
      sum(col("n_hapax")).as("_th"))
    joined.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("n_hapax"),
        round(col("n_tokens").cast("double")
          / col("_tt").cast("double"), 6).as("token_share_r"),
        round(when(col("_th") > 0, col("n_hapax").cast("double")
          / col("_th").cast("double")), 6).as("hapax_share_r"),
        round(when(col("_th") > 0,
          (col("n_hapax").cast("double") / col("_th").cast("double"))
            / (col("n_tokens").cast("double")
              / col("_tt").cast("double"))), 6).as("lift_r"))
      .orderBy(col("source"))
  }
}
