package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text normalisation kernel (SURVEY §2.2 P1–P4).
 *
 * Semantics mirror the reference tokeniser
 * (`/root/reference/vectorisers.go:116-124`): lowercase (Go simple fold,
 * see [[GoLower]]) then extract runs of Unicode letters `[\p{L}]+`
 * (digits/punctuation dropped). Stop-word filtering preserves token
 * order and duplicates (`/root/reference/vectorisers.go:82-112`), which
 * is why it uses a higher-order `filter` rather than `array_except`
 * (the latter dedups).
 *
 * Everything here is built from codegen'd Catalyst builtins plus the
 * [[GoLower]] kernel — no UDFs, stays inside whole-stage codegen,
 * fully distributed (per-row, no shuffle).
 */
object TextKernel {
  import GoLower.golower

  /** Unicode-letter-run tokens of the Go-lowered text. Since the
    * optimization round this is the fused single-pass [[GoTokens]]
    * kernel — byte-identical to
    * `regexp_extract_all(golower(text), "[\p{L}]+", 0)`
    * (Round6KernelSpec A/B) without the lowered-string materialisation
    * and regex scan per document. */
  def tokenize(text: Column): Column = GoTokens.gotokens(text)

  /** Order-preserving stop-word removal. The stop set is inlined as an
    * array literal; Catalyst constant-folds `array_contains` probes.
    * For very large stop sets prefer a broadcast join on exploded
    * tokens — at 318 words the literal is cheaper (no shuffle). */
  def dropStopWords(tokens: Column, stop: Seq[String]): Column =
    if (stop.isEmpty) tokens
    else filter(tokens, t => !array_contains(lit(stop.toArray), t))

  /** Normalised text: space-joined filtered tokens. This is the
    * "extracted text" of the north-rule invariant. */
  def normText(tokens: Column): Column = concat_ws(" ", tokens)

  /**
   * w-token shingles hashed to 64 bits (SURVEY P4; Broder '97).
   * Short documents (< w tokens) fall back to a single whole-document
   * shingle so every doc has a non-empty signature.
   * Note: `sequence(0, size-w)` would count *down* when size < w —
   * hence the explicit guard.
   */
  def shingles(tokens: Column, w: Int): Column = {
    val windows = transform(
      sequence(lit(0), size(tokens) - w),
      i => xxhash64(concat_ws(" ", slice(tokens, i + 1, lit(w)))))
    when(size(tokens) >= w, windows)
      .otherwise(array(xxhash64(concat_ws(" ", tokens))))
  }

  /** Distinct shingle set (basis for Jaccard / MinHash). */
  def shingleSet(tokens: Column, w: Int): Column = array_distinct(shingles(tokens, w))
}
