package graft.functions

/** Shared declarative text expressions (SQL fragments usable via expr()).
  * Kept as strings so the same fragment composes into higher-order
  * functions (transform/filter/aggregate) — all codegen-friendly
  * built-ins, no UDFs.
  */
object TextExprs {

  /** SQL-level let-binding: evaluate `bound` ONCE per row and reference it
    * as `varName` inside `body`.
    *
    * Why: Catalyst's CollapseProject inlines a projected column's defining
    * expression into every downstream reference — including into lambda
    * bodies, where an array element access like `toks[i]` then re-runs the
    * whole defining expression (e.g. a regex split) per element per
    * iteration. Wrapping as `transform(array(bound), v -> body)[0]` pins
    * one evaluation per row: the array constructor evaluates `bound` once,
    * and every `varName` reference is a cheap lambda-variable read. This is
    * the plan-level fix (works at any scale); caching/checkpoint barriers
    * are not.
    */
  def let1(bound: String, varName: String, body: String): String =
    s"transform(array($bound), $varName -> $body)[0]"

  /** Whitespace tokens of trimmed text (parity: DuckDB
    * `string_split_regex(trim(text), '\s+')`). */
  val toks = "split(trim(text), '\\\\s+')"

  /** Word 3-gram shingles (0-based indexing), empty if < 3 tokens.
    * The token array is let-bound — element accesses don't re-split. */
  val shingles: String = let1(toks, "t",
    """CASE WHEN size(t) >= 3 THEN
         transform(sequence(0, size(t) - 3),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
       ELSE array() END""")

  /** Distinct shingle set per document. */
  val shingleSet = s"array_distinct($shingles)"

  /** DuckDB twin of [[shingleSet]], the one copy every oracle composes:
    * `key` (`doc_id` or `source`) and its distinct word 3-gram list
    * `shingles` per `documents` row (1-based indexing, empty if < 3
    * tokens), as the body of a CTE. */
  private[graft] def duckShingleSet(key: String): String =
    s"""SELECT $key,
             list_distinct(CASE WHEN len(t) >= 3 THEN
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
             ELSE [] END) AS shingles
           FROM (SELECT $key, string_split_regex(trim(text), '\\s+') AS t
                 FROM documents)"""
}
