package graft.functions

import graft.functions.expressions.WordNgramsExpr
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Text-normalization and analysis column functions.
  *
  * Compositions of built-in and native (codegen'd) expressions — no UDFs in
  * the hot path, so whole-stage codegen and parquet pushdown stay intact.
  * Tokens are the native tokenizer's
  * ([[graft.functions.expressions.Tokenizer]]): the maximal `[a-z0-9]` runs
  * of the lowercased text.
  */
object text {

  /** The reference's normalization P1+P2 (mapreduce.c:50-61): lowercase, then
    * keep the longest *leading* `[a-z0-9]+` run; everything else (CR,
    * punctuation, BOM-led lines) truncates away, possibly to the empty string.
    * Verified in SURVEY.md to reproduce the reference's 21,322-posting multiset.
    */
  def normalizeWord(line: Column): Column =
    regexp_extract(lower(line), "^[a-z0-9]+", 0)

  /** Positional tokenizer (SURVEY §2.9 Q19 — P2 generalized to explode):
    * lowercase, split on non-alphanumeric runs, empty tokens kept at the
    * array edges. Only the inverted index (q01, q01b, q02) reads it: its
    * posting positions count the leading empty token (mirroring the
    * reference keeping line numbers of dropped lines). Everything else
    * reads [[cleanTokens]].
    */
  def tokens(text: Column): Column =
    split(lower(text), "[^a-z0-9]+")

  /** The non-empty tokens, in order — `tokens` minus its empty edges, built
    * natively (the filter-lambda form is CodegenFallback).
    */
  def cleanTokens(text: Column): Column = wordNgrams(text, 1)

  /** Token count (non-empty tokens), as long. Counted via the native
    * tokenizer expression — `size(filter(...))` would drag the projection
    * out of whole-stage codegen (ArrayFilter is CodegenFallback).
    */
  def tokenCount(text: Column): Column =
    size(expressions.sketch.tokenHashes(text)).cast("long")

  /** Word-level n-grams over the non-empty token list, joined with single
    * spaces, in order. Docs shorter than n tokens yield an empty array.
    */
  def wordNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(WordNgramsExpr(ColumnBridge.expression(text), n))

  /** The summed length of the tokens: the count of `[a-z0-9]` characters of
    * lower(text), since the tokens are exactly its maximal `[a-z0-9]` runs —
    * a codegen'd regexp count instead of a fold over the token list.
    */
  def tokenChars(text: Column): Column =
    length(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** BPE-style pre-tokenization pattern (contractions, letter runs, digit
    * runs, punctuation runs, each with optional leading space) — the
    * GPT-2-ish regex family, restricted to constructs RE2 (DuckDB) and Java
    * regex both support so the oracle can mirror it exactly.
    */
  val bpeishPattern: String =
    "(?:'(?:s|t|ll|ve|re|d|m))| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"

  /** BPE-ish sub-word-ish tokens of the lowercased text. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpeishPattern), lit(0))

  /** BPE-ish token count — the cheap proxy for "how many LLM tokens is this
    * document" used for pipeline budgeting.
    */
  def bpeishTokenCount(text: Column): Column =
    size(bpeishTokens(text)).cast("long")

  /** Per-language stopword marker sets for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pas", "pour", "dans"))

  /** Fraction of tokens that belong to `set`, rounded to 4 dp ([0,1], 0 for
    * empty docs). Building block for quality scoring and language ID.
    * One native tokenize-and-count pass (the filter+isin HOF form it
    * replaced was an interpreted pass per set).
    */
  def tokenSetRatio(text: Column, set: Seq[String]): Column = {
    val hits = element_at(expressions.sketch.tokenSetCounts(text, Seq(set)), 1)
    round(hits.cast("double") / greatest(tokenCount(text), lit(1)), 4)
  }

  /** N-gram-heuristic language ID: argmax of stopword-marker ratio across
    * the candidate languages. All-zero scores fall back to "und"
    * (undetermined); nonzero ties resolve to the lexicographically greatest
    * language code (deterministic). All four languages' counts come from ONE
    * tokenization pass (tokenSetCounts).
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val counts = expressions.sketch.tokenSetCounts(text, langs.map(stopwords))
    val nTok = greatest(tokenCount(text), lit(1))
    val scored = langs.zipWithIndex.map { case (l, i) =>
      struct(
        round(element_at(counts, i + 1).cast("double") / nTok, 4).as("score"),
        lit(l).as("lang"))
    }
    // array_max on struct = lexicographic (score, lang), so equal scores
    // resolve to the lexicographically GREATEST language code — the
    // documented tie-break.
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** q114's markup-strip patterns, applied in order: script/style blocks
    * wholesale, then comments, then every remaining balanced tag. All in
    * the Java-regex ∩ RE2 common subset so the DuckDB mirror (generated
    * from this same list) matches byte-for-byte.
    */
  val markupPatterns: Seq[String] = Seq(
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "(?s)<!--.*?-->",
    "<[^>]*>")

  /** q114's entity decode table, &amp; deliberately LAST so escaped
    * entities ("&amp;lt;") decode exactly once and stay literal text.
    */
  val markupEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** The q114 strip chain as one column expression (null → empty doc):
    * tags/blocks out, entities decoded, whitespace collapsed with an
    * EXPLICIT class (Java's \s includes \x0B, RE2's does not). Shared by
    * the registered q114 and CurationRun's opt-in pre-funnel transform.
    */
  def stripMarkup(t: Column): Column = {
    val noTags = markupPatterns.foldLeft(coalesce(t, lit(""))) {
      (c, p) => regexp_replace(c, p, " ")
    }
    val decoded = markupEntities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** Fraction of characters that are a-z after lowercasing (unrounded). */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[^a-z]", "")).cast("double") /
      greatest(length(text), lit(1))

  /** Heuristic quality signals for a document (LLM-pipeline text analysis):
    * character count, token count, mean token length, alpha-char ratio,
    * stopword ratio — all deterministic, rounded.
    */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val nTok = greatest(tokenCount(text), lit(1))
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_tokens" -> tokenCount(text),
      "mean_token_len" -> round(tokenChars(text).cast("double") / nTok, 4),
      "alpha_ratio" -> round(alphaRatio(text), 4),
      "stopword_ratio" -> tokenSetRatio(text, stopwords("en")))
  }
}
