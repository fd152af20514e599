package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality scoring, language ID, document fingerprinting.
 *
 * Everything is built from codegen'd `functions._` expressions (no Scala
 * UDFs) so the whole stage stays inside WholeStageCodegen and the parquet
 * scan only reads the `text` column (column pruning). At 100 TB these are
 * embarrassingly parallel map-only stages — no shuffle at all.
 */
object TextAnalysis {

  /** Whitespace tokens. Spark `split` is regex-based; a single literal
    * space matches DuckDB's `string_split(text, ' ')` for oracle parity. */
  def tokens(text: Column): Column = split(text, " ")

  /**
   * Context-window chunking: split each document into fixed-size token
   * windows with `overlap` tokens of left context carried between
   * consecutive chunks (stride = chunkTokens − overlap) — the
   * long-document preprocessing step upstream of embedding / sequence
   * models with bounded input length. Emits one row per chunk:
   * (id, chunk_id, chunk_text, n_chunk_tokens); a doc shorter than one
   * window yields exactly one chunk. Map-side `sequence` explode — a doc
   * emits ceil((n−overlap)/stride) rows, output is corpus-proportional,
   * zero shuffle.
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("_t"))
      .withColumn("_n", size(col("_t")))
      // chunk starts: 0, stride, 2·stride, … while start < max(n − overlap, 1)
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          expr(s"(greatest(_n - $overlap, 1) - 1) div $stride"))))
      .select(col("id"), col("chunk_id").cast("int").as("chunk_id"),
        concat_ws(" ",
          slice(col("_t"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), col("_n") - col("chunk_id") * stride)
          .cast("int").as("n_chunk_tokens"))
  }

  /** BPE-ish subword proxy: word-boundary chunks of letters / digits /
    * single punctuation, the usual pre-tokenizer shape. */
  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  val defaultStopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is")

  def stopwordCount(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  /**
   * Quality-score features per document: length, token count, mean token
   * length, stopword ratio, punctuation ratio, alpha ratio — the standard
   * heuristic-filter family (Gopher/C4-style rules) as one narrow projection.
   */
  def withQualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("mean_token_len",
        aggregate(toks, lit(0L), (acc, tok) => acc + length(tok)).cast("double")
          / size(toks).cast("double"))
      .withColumn("stopword_ratio",
        stopwordCount(t).cast("double") / size(toks).cast("double"))
      .withColumn("punct_ratio",
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
          / length(t).cast("double"))
      .withColumn("alpha_ratio",
        length(regexp_replace(t, "[^A-Za-z]", "")).cast("double") / length(t).cast("double"))
  }

  /** Scalar quality score in [0,1] — a fixed, deterministic linear blend of
    * the features (weights are part of the operator contract). */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    withQualityFeatures(df, textCol).withColumn("quality_score",
      greatest(lit(0.0), least(lit(1.0),
        lit(0.4) * least(col("n_tokens").cast("double") / lit(64.0), lit(1.0))
          + lit(0.3) * (lit(1.0) - col("punct_ratio"))
          + lit(0.3) * col("alpha_ratio"))))

  /**
   * Language ID via n-gram/stopword profiles — pure-SQL scoring: count of
   * profile hits per language over the token set, argmax with deterministic
   * tie-break on language code. Profiles are tiny and inlined as literals
   * (broadcast-free). The Spark plumbing (map-only, codegen'd, no shuffle)
   * is the contract; on the synthetic `documents` fixture, accuracy against
   * the `lang` column is capped by the data itself — every document's text
   * is drawn from the same English-ish vocabulary regardless of its label,
   * so no content-based classifier can beat the majority-class rate
   * (~0.44 at sf0.01). Real profiles drop in without any plumbing change.
   */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val langs = langProfiles.toSeq.sortBy(_._1)
    // argmax via array_max over (hits, tieOrdinal, lang) structs: structs
    // compare field-by-field, so max hits wins; on equal hits the larger
    // ordinal wins, and ordinals are assigned in *reverse* lexicographic
    // order so the lexicographically smallest lang is the deterministic tie
    // winner.
    val scored = langs.zipWithIndex.map { case ((lang, words), i) =>
      struct(
        size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(langs.size - i).as("tie"),
        lit(lang).as("lang"))
    }
    df.withColumn("lang_pred", array_max(array(scored: _*)).getField("lang"))
  }

  /** Word n-grams as space-joined strings; empty array when the document
    * has fewer than n tokens (`sequence(1, 0)` would DESCEND, not error —
    * the guard is mandatory). */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /**
   * Repetition features per document — the Gopher-repetition rule family
   * (duplicate-n-gram fraction, top-n-gram mass) used to drop boilerplate
   * and degenerate generations from training corpora.
   *
   *  - `dup_2gram_frac` / `dup_3gram_frac`: fraction of n-gram slots
   *    occupied by a repeated n-gram (1 − distinct/total).
   *  - `top_2gram_frac`: share of bigram slots taken by the single most
   *    frequent bigram (count via a per-doc distinct×all filter walk —
   *    quadratic in DISTINCT bigrams per doc, bounded by document length,
   *    never leaves the row).
   *
   * Map-only: no shuffle, no UDF, scan reads only (id, text) — the same
   * zero-exchange shape as the rest of this file at any corpus size.
   */
  def withRepetitionFeatures(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        (size(g) - size(array_distinct(g))).cast("double") / size(g).cast("double"))
        .otherwise(lit(0.0))
    val g2 = ngrams(toks, 2)
    val g3 = ngrams(toks, 3)
    df.withColumn("n_2grams", size(g2))
      .withColumn("dup_2gram_frac", dupFrac(g2))
      .withColumn("dup_3gram_frac", dupFrac(g3))
      .withColumn("top_2gram_frac",
        when(size(g2) > 0,
          array_max(transform(array_distinct(g2),
            b => size(filter(g2, x => x === b)))).cast("double")
            / size(g2).cast("double"))
          .otherwise(lit(0.0)))
  }

  /**
   * Benchmark-contamination check (test-set decontamination) — the
   * membership pass every training corpus runs against its eval suites:
   * per corpus document, how many of its distinct word n-grams appear
   * anywhere in the benchmark set.
   *
   * Emits (id, n_grams, n_contaminated, contamination_frac) for EVERY
   * corpus doc (docs with fewer than n tokens report 0 grams / 0.0 frac);
   * filter `contamination_frac >= tau` to drop leaked documents.
   *
   * Scale design: benchmarks are MBs while the corpus is TBs — the distinct
   * benchmark n-gram set broadcasts, so the corpus-side explode + membership
   * probe is map-only; the only exchange is the per-doc partial-agged count
   * roll-up. Never joins corpus×corpus, never shuffles gram strings of the
   * corpus (the broadcast hash probe happens before the aggregate).
   */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // Distinct n-gram fingerprints via the native codegen'd expression:
    // membership only needs hash equality, so the broadcast set and the
    // probe both carry 8-byte longs, never gram strings.
    def grams(t: Column): Column =
      GraftFunctions.ngramHashes(t, n, distinct = true)
    val bench = benchmark
      .select(explode(grams(col(textCol))).as("gram")).distinct()
      .withColumn("_hit", lit(1))
    corpus.select(col(idCol), explode_outer(grams(col(textCol))).as("gram"))
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("gram")).as("n_grams"),
        count(col("_hit")).as("n_contaminated"))
      .withColumn("contamination_frac",
        when(col("n_grams") > 0,
          col("n_contaminated").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /**
   * Rule-based keep/drop filter — the decision step on top of the quality
   * features (C4/Gopher-style): per-rule 0/1 flags plus the conjunction.
   * Thresholds are part of the operator contract (deterministic,
   * oracle-checkable); map-only like the feature pass it builds on.
   */
  def withRuleFilter(df: DataFrame, textCol: String,
                     minTokens: Int = 10, maxTokens: Int = 100000,
                     minMeanTokLen: Double = 2.0, maxMeanTokLen: Double = 12.0,
                     maxPunctRatio: Double = 0.3,
                     minAlphaRatio: Double = 0.5): DataFrame = {
    val f = withQualityFeatures(df, textCol)
    f.withColumn("ok_n_tokens",
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).cast("int"))
      .withColumn("ok_mean_token_len",
        (col("mean_token_len") >= minMeanTokLen &&
          col("mean_token_len") <= maxMeanTokLen).cast("int"))
      .withColumn("ok_punct", (col("punct_ratio") <= maxPunctRatio).cast("int"))
      .withColumn("ok_alpha", (col("alpha_ratio") >= minAlphaRatio).cast("int"))
      .withColumn("keep",
        (col("ok_n_tokens") === 1 && col("ok_mean_token_len") === 1 &&
          col("ok_punct") === 1 && col("ok_alpha") === 1).cast("int"))
  }

  /** PII patterns — conservative, RE2/Java-regex-portable (no lookaround,
    * no backreferences) so the same pattern text runs in Spark and the
    * DuckDB oracle. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"

  /**
   * PII scrub pass — the redaction step every public-web training corpus
   * runs before anything else: per-doc counts of detected emails/URLs and
   * a masked text with each match replaced by a typed placeholder.
   * Map-only regex work, zero shuffle, pure codegen'd `functions._`.
   */
  def withPiiScrub(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(emailPattern), lit(0))))
      .withColumn("n_urls", size(regexp_extract_all(t, lit(urlPattern), lit(0))))
      .withColumn("text_masked",
        regexp_replace(regexp_replace(t, emailPattern, "<EMAIL>"),
          urlPattern, "<URL>"))
  }

  /** Rolling polynomial (Rabin-Karp style) content fingerprint over bytes —
    * deterministic 64-bit, expressed with Spark's `aggregate` higher-order
    * function so it stays codegen'd; plus plain md5/xxhash64 fingerprints. */
  def withFingerprints(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("fp_md5", md5(t))
      .withColumn("fp_xxh64", xxhash64(t))
      .withColumn("fp_rolling",
        // Modulus 2^58 keeps acc*31+c < 2^63 — ANSI-safe (Spark 4 raises on
        // Long overflow) while staying a deterministic 58-bit polynomial hash.
        aggregate(
          transform(split(t, ""), ch => ascii(ch).cast("long")),
          lit(0L),
          (acc, c) => (acc * lit(31L) + c) % lit(1L << 58)))
  }
}
