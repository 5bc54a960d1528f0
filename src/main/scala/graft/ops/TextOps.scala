package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: quality
  * scoring, language ID, token counting, fingerprinting.
  *
  * All operators are pure column expressions (codegen'd, no UDFs), so
  * they fuse into one WholeStageCodegen span over the parquet scan —
  * at 100 TB each document is touched exactly once, with only the
  * referenced columns read.
  */
object TextOps {

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  private def norm(text: Column): Column = lower(trim(text))

  /** Whitespace token array. */
  def tokens(text: Column): Column = split(norm(text), "\\s+")

  /** Quality features + composite score (length, punctuation density,
    * stopword ratio, digit ratio, mean token length).
    */
  def qualityFeatures(docs: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val toks = tokens(t)
    val nChars = length(t).cast("double")
    val nTokens = size(toks).cast("double")
    val nPunct = (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("double")
    val nDigits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
    val nStop = size(filter(toks, tk => tk.isin(stopwords: _*))).cast("double")
    // No round(): raw IEEE divisions/additions are bit-identical across
    // engines for identical inputs, while round() implementations differ.
    docs
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("punct_ratio", nPunct / nChars)
      .withColumn("digit_ratio", nDigits / nChars)
      .withColumn("stopword_ratio", nStop / nTokens)
      .withColumn("mean_token_len", (nChars - nTokens + lit(1.0)) / nTokens)
      .withColumn(
        "quality_score",
        lit(1.0)
          - least(lit(1.0), col("punct_ratio") * 4)
          - least(lit(1.0), col("digit_ratio") * 4) * 0.5
          + least(lit(0.5), col("stopword_ratio")))
  }

  /** Gopher/C4-style rule-based document filtering (the published
    * heuristics from the Gopher dataset card and the C4 cleaning
    * pipeline): per-doc signals plus one boolean per rule family and a
    * final `keep` verdict — a training pipeline's first pass drops
    * documents, it doesn't score them. All signals are codegen'd
    * column expressions; no per-row UDFs.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio (# and ...) ≤ 0.1; ≥ 80% of words
    * contain an alphabetic character; at least 2 stopword hits; no
    * `{` (code) and no "lorem ipsum" (boilerplate) — the C4 oddballs.
    */
  def gopherFilters(docs: DataFrame, text: String,
      minWords: Long = 30L, maxWords: Long = 100000L): DataFrame = {
    val t = col(text)
    val toks = tokens(t)
    val nWords = size(toks).cast("long")
    val nWordsD = nWords.cast("double")
    val meanLen = length(regexp_replace(t, "\\s", "")).cast("double") / nWordsD
    val alphaWords = size(filter(toks, w => w.rlike("[a-z]"))).cast("long")
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEll = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / lit(3))
      .cast("long")
    val symRatio = (nHash + nEll).cast("double") / nWordsD
    val alphaRatio = alphaWords.cast("double") / nWordsD
    val stopHits = size(filter(toks, tk => tk.isin(stopwords: _*))).cast("long")
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_word_ratio", symRatio)
      .withColumn("alpha_word_ratio", alphaRatio)
      .withColumn("stop_hits", stopHits)
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("alpha_word_ratio") > 0.8 &&
          col("stop_hits") >= 2L &&
          !t.contains("{") && !lower(t).contains("lorem ipsum"))
  }

  /** Sliding-window chunking: split each document's token array into
    * `chunkSize`-token windows starting every `stride` tokens (overlap
    * = chunkSize − stride), the shape context-window-bounded embedding
    * and training prep needs. One row in → ceil(n/stride) rows out via
    * explode — no per-row UDF, no shuffle (chunking is embarrassingly
    * parallel; a downstream groupBy owns any re-keying).
    */
  def chunks(docs: DataFrame, id: String, text: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val toks = tokens(col(text))
    docs
      .select(col(id), toks.as("__toks"))
      .select(col(id), col("__toks"),
        explode(sequence(lit(0),
          floor((size(col("__toks")) - 1) / lit(stride)).cast("int")))
          .as("chunk_idx"))
      .withColumn("__chunk",
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkSize)))
      .select(col(id), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** PII detection + redaction patterns — kept in lockstep with the
    * DuckDB oracle (same regex dialect subset: RE2 and java.util.regex
    * agree on these).
    */
  val emailRe = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]{2,}"
  val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
  val ipRe = "\\d+\\.\\d+\\.\\d+\\.\\d+"

  /** PII scrub: count emails / phone numbers / IPv4 literals on the
    * original text, then redact them to typed tokens (emails first —
    * their dotted domains must not survive into the IP pass). Pure
    * codegen'd column expressions; a training pipeline runs this over
    * every document before anything else retains the text.
    */
  def piiScrub(docs: DataFrame, text: String): DataFrame = {
    val t = col(text)
    docs
      .withColumn("n_emails", regexp_count(t, lit(emailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(phoneRe)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(ipRe)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"),
          ipRe, "<IP>"))
  }

  /** Canonicalize a URL for dedup keying — the common-crawl curation
    * rule set: lowercase; drop the fragment; drop the scheme and a
    * leading `www.`; strip trailing slashes from the host+path; drop
    * tracking query parameters (`utm_*`, `ref=…`) and SORT the
    * survivors so parameter order never splits a group. Pure
    * codegen'd string expressions (regexp chains + one array
    * filter/sort on the split query string) — zero shuffle; the
    * dedup itself is then one hash groupBy on the canonical key.
    * (`utm_%` uses LIKE's single-char `_` wildcard — it also matches
    * `utmX…`, which is the intended prefix family.)
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(lower(url), "#.*$", "")
    val noScheme = regexp_replace(regexp_replace(noFrag, "^https?://", ""),
      "^www\\.", "")
    val hostPath = regexp_replace(split_part(noScheme, lit("?"), lit(1)), "/+$", "")
    val params = filter(split(split_part(noScheme, lit("?"), lit(2)), "&"),
      p => !(p.like("utm_%") || p.like("ref=%") || (p === lit(""))))
    val qs = array_join(array_sort(params), "&")
    concat(hostPath, when(qs === "", "").otherwise(concat(lit("?"), qs)))
  }

  /** Marker-word language heuristic: deterministic, order-sensitive
    * CASE over language-specific function words.
    */
  def langGuess(text: Column): Column = {
    val padded = concat(lit(" "), norm(text), lit(" "))
    when(padded.like("% el %") || padded.like("% la %"), "es")
      .when(padded.like("% le %") || padded.like("% un %"), "fr")
      .when(padded.like("% der %") || padded.like("% und %"), "de")
      .otherwise("en")
  }

  /** Confusion counts of the heuristic against a labeled column. */
  def langConfusion(docs: DataFrame, text: String, lang: String): DataFrame =
    docs
      .groupBy(col(lang).as("lang_true"), langGuess(col(text)).as("lang_guess"))
      .agg(count(lit(1)).as("n"))

  /** Whitespace + BPE-ish token counts (letters runs, digit runs, single
    * punctuation marks — the shape a byte-pair pretokenizer produces).
    */
  def tokenCounts(docs: DataFrame, text: String): DataFrame = {
    val t = col(text)
    docs
      .withColumn("ws_tokens", size(tokens(t)).cast("long"))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))
  }

  /** Document fingerprints: full-content md5 plus head/tail md5s (cheap
    * containment probes), over normalized text.
    */
  def fingerprints(docs: DataFrame, text: String): DataFrame = {
    val n = norm(col(text))
    docs
      .withColumn("fp", md5(n))
      .withColumn("fp_head", md5(substring(n, 1, 32)))
      .withColumn("fp_tail", md5(substring(reverse(n), 1, 32)))
  }

  /** Corpus-frequency token statistics — the integer-exact core of a
    * CCNet-style LM-quality filter: a document dense in corpus-RARE
    * tokens is exactly the one a perplexity filter flags, and rare-token
    * counts capture that signal with NO floating-point log-sums (whose
    * reduction order would differ between engines). Two shuffles: one
    * map-side-combined groupBy building the vocabulary frequency table,
    * one token-keyed join back (head tokens skew that join's partitions
    * — AQE skew-join splits them; each row still matches exactly one
    * frequency row). Output per doc: token count, distinct tokens,
    * rare-token count (corpus freq ≤ rareMax), min/sum of corpus
    * frequencies.
    */
  /** Bigram-LM surprise scoring (the CCNet/Wikipedia-LM quality-filter
    * core): train an add-one-smoothed bigram LM on the `isRef` slice,
    * score EVERY document by total and mean per-token surprise. The
    * surprise is a pure INTEGER log₂ — with smoothed probability
    * (c(prev,w)+1)/(c(prev)+V), `bits = bit_length((c(prev)+V) div
    * (c(prev,w)+1))` = ⌊log₂⌋+1 of the inverse probability, computed
    * via `length(bin(x))` so any SQL engine with a binary formatter
    * reproduces it exactly (no float log anywhere).
    *
    * Scale shape: one bigram explode (linear), ONE count aggregation
    * over the reference slice (the context marginal c(prev) aggregates
    * over the (prev,w) count frame, not a second corpus pass), two
    * equi-joins of corpus bigrams against the model frames, a 1-row
    * vocab broadcast for the smoothing denominator, one per-doc
    * regroup. The trained model IS the two count frames — persist them
    * with [[saveLm]]/[[loadLm]] to reuse across corpora (the
    * train-once, apply-nightly shape of a KenLM-style filter).
    *
    * Output per input row: every `docs` column the caller selected,
    * plus n_bigrams, bits, mean_bits (0.0 for <2-token docs).
    */
  def lmSurprise(docs: DataFrame, id: String, text: String,
      isRef: Column): DataFrame =
    scoreLm(trainLm(docs.filter(isRef), text), docs, id, text)

  /** A trained bigram LM: the (prev, w) count frame, its context
    * marginal, the 1-row vocab size, and — for a BOUNDED model
    * ([[trainLmBounded]]) — the per-context pruned-mass `<unk>` frame.
    * The model IS these frames — [[saveLm]]/[[loadLm]] persist them as
    * parquet so one reference train pass serves every later
    * corpus/batch (how a real KenLM-style filter ships: train once on
    * Wikipedia, apply nightly).
    */
  final case class LmModel(cPw: DataFrame, cP: DataFrame, vocab: DataFrame,
      cUnk: Option[DataFrame] = None)

  def trainLm(ref: DataFrame, text: String): LmModel = {
    val cPw = bigrams(ref, text).groupBy("prev", "w")
      .agg(count(lit(1)).as("c_pw"))
    // the context marginal aggregates OVER THE COUNT FRAME, not a
    // second scan+explode of the reference corpus
    val cP = cPw.groupBy("prev").agg(sum("c_pw").as("c_p"))
    val vocab = ref.select(explode(tokens(col(text))).as("t"))
      .agg(countDistinct(col("t")).as("vocab"))
    LmModel(cPw, cP, vocab)
  }

  /** The KenLM-style size bound for web-scale reference slices: an
    * UNBOUNDED `c_pw` holds one row per distinct bigram TYPE — on a
    * common-crawl-sized reference that frame is itself billions of
    * rows joined against every corpus bigram. Keep only types with
    * count ≥ `minCount`; each context's pruned mass collapses into ONE
    * `<unk>` row (`cUnk`), the estimate every pruned-or-unseen word
    * shares, and contexts whose full marginal falls under the floor
    * drop from `cP` entirely (every one of their bigram types is under
    * the floor too, so the whole context collapses into its `<unk>`
    * row: ANY bigram there — pruned type or genuinely unseen — scores
    * with c = c_unk against a ZERO marginal, i.e. bit_length(V div
    * (c_unk + 1)); only a context with no pruned mass at all scores
    * its unseen pairs at the true never-seen 1/V). Under Zipf the retained type
    * count is a vanishing fraction of corpus bigrams — the model frame
    * goes SUBLINEAR in corpus size (measured: ScaleSmoke
    * lm_model_rows@zipf) while the smoothed-probability algebra stays
    * integer-exact: bits = bit_length((c_p + V) div (c + 1)) with
    * c = coalesce(kept, unk, 0), so the oracle re-derives scores
    * bit-for-bit. `minCount = 1` reproduces [[trainLm]] exactly
    * (nothing prunes; LmPropertySpec pins it).
    */
  def trainLmBounded(ref: DataFrame, text: String, minCount: Long): LmModel = {
    val full = bigrams(ref, text).groupBy("prev", "w")
      .agg(count(lit(1)).as("c_pw"))
    // marginal over the FULL count frame (exact — pruning must not
    // shift denominators), then bounded: a context under the floor has
    // every type under it, so dropping its row is the same algebra as
    // c_p = 0
    val cP = full.groupBy("prev").agg(sum("c_pw").as("c_p"))
      .filter(col("c_p") >= minCount)
    val kept = full.filter(col("c_pw") >= minCount)
    val cUnk = full.filter(col("c_pw") < minCount)
      .groupBy("prev").agg(sum("c_pw").as("c_unk"))
    val vocab = ref.select(explode(tokens(col(text))).as("t"))
      .agg(countDistinct(col("t")).as("vocab"))
    LmModel(kept, cP, vocab, Some(cUnk))
  }

  def scoreLm(model: LmModel, docs: DataFrame, id: String,
      text: String): DataFrame = {
    val joined0 = bigrams(docs.select(col(id), col(text)), text, keep = Seq(id))
      .join(model.cPw, Seq("prev", "w"), "left")
      .join(model.cP, Seq("prev"), "left")
    // bounded model: a (prev, w) miss falls to the context's <unk> row
    // before the never-seen 0 — one more prev-keyed equi-join against
    // a frame SMALLER than c_p (only contexts that had pruned mass)
    val (joined, cExpr) = model.cUnk match {
      case Some(u) => (joined0.join(u, Seq("prev"), "left"),
        "coalesce(c_pw, c_unk, CAST(0 AS BIGINT))")
      case None => (joined0, "coalesce(c_pw, CAST(0 AS BIGINT))")
    }
    val perDoc = joined
      .crossJoin(broadcast(model.vocab)) // 1-row smoothing denominator
      .withColumn("bits_tok", length(bin(expr(
        s"(coalesce(c_p, CAST(0 AS BIGINT)) + vocab) div ($cExpr + 1)")))
        .cast("long"))
      .groupBy(id)
      .agg(count(lit(1)).as("n_bigrams"), sum("bits_tok").as("bits"))
    docs
      .join(perDoc, Seq(id), "left")
      .na.fill(0L, Seq("n_bigrams", "bits"))
      .withColumn("mean_bits", when(col("n_bigrams") === 0, lit(0.0))
        .otherwise(col("bits").cast("double") / col("n_bigrams").cast("double")))
  }

  def saveLm(model: LmModel, path: String): Unit = {
    model.cPw.write.mode("overwrite").parquet(s"$path/c_pw")
    model.cP.write.mode("overwrite").parquet(s"$path/c_p")
    model.vocab.write.mode("overwrite").parquet(s"$path/vocab")
    model.cUnk.foreach(_.write.mode("overwrite").parquet(s"$path/c_unk"))
  }

  def loadLm(spark: org.apache.spark.sql.SparkSession, path: String): LmModel = {
    // pre-bound saved models have no c_unk frame — load as unbounded.
    // Probe through the Hadoop FileSystem the path actually resolves
    // to, NOT java.io.File: saveLm writes via Spark's Hadoop layer, so
    // a model on hdfs://-style URI would look absent to a local-file
    // probe and silently load as unbounded (dropping the <unk> frame
    // changes every pruned-bigram score with no error).
    val unkPath = new org.apache.hadoop.fs.Path(s"$path/c_unk")
    val fs = unkPath.getFileSystem(spark.sessionState.newHadoopConf())
    val unk =
      if (fs.exists(unkPath)) Some(spark.read.parquet(s"$path/c_unk"))
      else None
    LmModel(spark.read.parquet(s"$path/c_pw"),
      spark.read.parquet(s"$path/c_p"),
      spark.read.parquet(s"$path/vocab"), unk)
  }

  /** One (prev, w) row per adjacent token pair, keeping `keep` cols. */
  private[graft] def bigrams(docs: DataFrame, text: String,
      keep: Seq[String] = Seq.empty): DataFrame = {
    val toks = tokens(col(text))
    val bigramArr = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("prev"), b.as("w")))
    docs.select(keep.map(col) :+ explode(bigramArr).as("b"): _*)
      .select(keep.map(col) :+ col("b.prev") :+ col("b.w"): _*)
  }

  def tokenFrequencyStats(docs: DataFrame, id: String, text: String,
      rareMax: Long = 2L): DataFrame = {
    // checkpointed: the frequency-aggregate subtree and the join
    // subtree are not canonically identical, so ReuseExchange cannot
    // share them — without this the tokenize+explode pass runs twice
    // (the same reasoning as Dedup.ngramCoverage)
    val tok = Materialize.barrier(
      docs.select(col(id), explode(tokens(col(text))).as("__t"))
        .filter(length(col("__t")) > 0))
    val freq = tok.groupBy("__t").agg(count(lit(1)).as("__f"))
    tok.join(freq, "__t")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("__t")).as("n_distinct"),
        sum(when(col("__f") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        min(col("__f")).as("min_freq"),
        sum(col("__f")).as("sum_freq"))
  }
}
