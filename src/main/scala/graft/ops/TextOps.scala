package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Gram tokenization mode of the n-gram dedup/novelty family: the one
  * place a mode picks its gram columns. */
sealed abstract class Shingler(val name: String) {
  /** The n-gram strings of `text`. */
  def grams(text: Column, n: Int): Column
  /** xxhash64 of each n-gram of `text`, in gram order. */
  def gramHashes(text: Column, n: Int): Column
}
object Shingler {
  /** Word n-grams over whitespace tokens — the default, right for
    * space-segmented scripts. */
  case object Word extends Shingler("word") {
    def grams(text: Column, n: Int): Column =
      graft.functions.word_shingles(text, n)
    def gramHashes(text: Column, n: Int): Column =
      graft.functions.word_shingle_hashes(text, n)
  }
  /** CODEPOINT n-grams over the whitespace-normalized lowercased text
    * ([[TextOps.normalized]]) — the mode for unsegmented scripts
    * (CJK and friends), where whitespace tokenization yields one
    * sentence-length "word" per run and the word-gram family goes
    * blind. Same downstream pipeline (hashes, MinHash, LSH, Jaccard);
    * pick `n` in codepoints (~2× the word-gram n's character span).
    * Char grams run hotter (common substrings cross word boundaries),
    * so `maxShingleDf` matters more — measure with
    * [[TextAnalysis.heavyGrams]] first. */
  case object Char extends Shingler("char") {
    def grams(text: Column, n: Int): Column =
      graft.functions.char_shingles(text, n)
    def gramHashes(text: Column, n: Int): Column =
      graft.functions.char_shingle_hashes(text, n)
  }
}

/** Shared text primitives for the dedup / text-analysis operators.
  * All declarative (codegen-friendly), no UDFs. */
object TextOps {

  /** Whitespace tokens of lower-cased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace-normalized lower-cased text (dedup canonical form). */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Word n-gram shingles as strings ("w1 w2 w3"); empty array when the
    * document has fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
}
