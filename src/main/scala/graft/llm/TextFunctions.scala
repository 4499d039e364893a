package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM data pipelines: tokenization, n-grams,
  * quality features, language-ID heuristics, fingerprinting (SURVEY.md §2b "LLM
  * extensions"). All pure `Column` expressions — codegen'd by Catalyst, no UDFs, so
  * they vectorize inside whole-stage codegen and distribute trivially at 100 TB. */
object TextFunctions {

  /** Lowercased unicode word tokens (letters+digits runs). CJK text has no spaces, so
    * a run of CJK chars is one token — language-ID handles zh via codepoint detection
    * instead. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: count of letter-runs, digit-runs, and isolated symbols —
    * the shape of a byte-pair pretokenizer's word-splitting regex. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"))

  /** Word n-grams over a token array (empty below n tokens). Built with O(1)
    * element_at lookups — a slice()-based formulation is O(len) per shingle, i.e.
    * quadratic per document. */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat((0 until n).flatMap(j =>
          if (j == 0) Seq(element_at(toks, i + j + 1))
          else Seq(lit(" "), element_at(toks, i + j + 1))): _*)))
      .otherwise(array())

  // Tiny per-language stopword inventories for the language-ID heuristic.
  val stopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "that")
  val stopwordsFr = Seq("le", "la", "les", "de", "et", "un", "une", "est")
  val stopwordsEs = Seq("el", "la", "los", "de", "y", "un", "una", "es")
  val stopwordsDe = Seq("der", "die", "das", "und", "ein", "eine", "ist", "von")

  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  def cjkCharCount(text: Column): Column = regexp_count(text, lit("[\\u4e00-\\u9fff]"))

  /** n-gram/stopword-heuristic language ID over {en,fr,es,de,zh}; deterministic
    * tie-break favors en > de > es > fr.
    *
    * Prefer [[langIdFrom]] with a STAGED token column (withColumn first): the inline
    * form repeats the tokenizing split inside each of the four stopword scans. */
  def langId(text: Column): Column = langIdFrom(text, tokens(text))

  /** [[langId]] over an already-staged token column — one tokenization feeds all
    * four stopword counts (staged columns survive CollapseProject because the
    * expression is non-cheap and multiply-referenced). */
  def langIdFrom(text: Column, toks: Column): Column = {
    val en = stopwordHits(toks, stopwordsEn)
    val fr = stopwordHits(toks, stopwordsFr)
    val es = stopwordHits(toks, stopwordsEs)
    val de = stopwordHits(toks, stopwordsDe)
    when(cjkCharCount(text) > 0, "zh")
      .when(en >= fr && en >= es && en >= de, "en")
      .when(de >= fr && de >= es, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Quality-scoring features: lengths, token stats, character-class ratios. */
  def whitespaceRatio(text: Column): Column =
    regexp_count(text, lit("\\s")).cast("double") / greatest(length(text), lit(1))

  def digitRatio(text: Column): Column =
    regexp_count(text, lit("\\p{N}")).cast("double") / greatest(length(text), lit(1))

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^\\p{L}\\p{N}\\s]")).cast("double") /
      greatest(length(text), lit(1))

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    stopwordHits(toks, stopwordsEn).cast("double") / greatest(size(toks), lit(1))
  }

  /** Content fingerprint: digest of the token-normalized text. Two documents with the
    * same token stream (ignoring case/punctuation/spacing) collide. */
  def fingerprint(text: Column): Column = md5(concat_ws(" ", tokens(text)))

  /** Token-normalized character stream (input of the rolling-hash fingerprints). */
  def normalizedText(text: Column): Column = concat_ws(" ", tokens(text))

  /** Rolling char k-gram hashes over an ALREADY-STAGED normalized-text column.
    * IMPORTANT: pass a real column, not an expression — HOF lambdas re-evaluate free
    * subexpressions per element, so an inline normalize would re-run per position. */
  def charGramHashes(norm: Column, k: Int): Column =
    when(length(norm) >= k,
      transform(sequence(lit(1), length(norm) - (k - 1)),
        i => md5(norm.substr(i, lit(k)))))
      .otherwise(array())

  /** Winnowing (Schleimer et al., SIGMOD 2003) over a STAGED gram-hash column: the
    * distinct set of per-window minima — the standard rolling-hash document
    * fingerprint. Guarantee: any shared substring of length ≥ k+w-1 yields a shared
    * print. Documents shorter than w grams contribute their single overall minimum. */
  def winnowPrints(grams: Column, w: Int): Column =
    when(size(grams) === 0, array())
      .when(size(grams) < w, array(array_min(grams)))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(grams) - (w - 1)),
          j => array_min(slice(grams, j, lit(w))))))
}
