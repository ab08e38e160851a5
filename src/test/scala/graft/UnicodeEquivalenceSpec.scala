package graft

import graft.ops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Canonical-equivalence contracts (the edge sweep's `canon`
  * variant, tools/edge_fixtures.py). The variant plants NFC / NFD
  * spellings of the SAME visual string plus zero-width weaves into
  * every string-bearing table and runs all 113 queries through the
  * unchanged DuckDB gate: zero divergences — both engines
  * byte-compare. That run is evidence the engines AGREE; this
  * spec pins WHAT they agree on, so a future "helpful" normalization
  * (an NFC fold in a tokenizer, a trim that eats ZWSP) breaks a named
  * contract instead of silently flipping dedup/join cardinalities
  * against every committed oracle.
  *
  * The contracts, stated once:
  *  - content identity is BYTES: NFC and NFD of one grapheme are two
  *    documents to sha2 dedup (DuckDB's sha256 agrees);
  *  - q81's canonicalizer is an ASCII fold, not a Unicode normalizer:
  *    NFC "é" (not in [a-z0-9]) drops whole while NFD leaves the
  *    base letter — DIFFERENT fingerprints, identically in both
  *    engines. A Unicode-aware canonicalizer would be a new operator
  *    with its own oracle, not a tweak to this one;
  *  - the tokenizer splits on U+0020 only: ZWSP/ZWJ/ZWNJ are token
  *    glue (Java regex \s excludes them, as does DuckDB's
  *    string_split), and a defective leading combining mark is data,
  *    not an error.
  *
  * All non-ASCII is built programmatically or via escapes — literal
  * composed/decomposed source text is exactly the thing an editor or
  * formatter silently re-normalizes.
  */
class UnicodeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  // normalized programmatically so the contract holds even if an
  // editor re-normalizes this file's literal bytes
  private val nfc =
    java.text.Normalizer.normalize("café Pâté", java.text.Normalizer.Form.NFC)
  private val nfd =
    java.text.Normalizer.normalize(nfc, java.text.Normalizer.Form.NFD)
  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("sha2 dedup sees bytes: NFC and NFD of one visual string are two groups") {
    // fixture self-check: canonically equivalent, byte-different
    assert(nfd !== nfc)
    assert(java.text.Normalizer.normalize(nfd, java.text.Normalizer.Form.NFC) === nfc)
    val out = TextOps.exactDedupGroups(docs(1L -> nfc, 2L -> nfd), "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 1L), (2L, 1L)))
  }

  test("q81 canonicalizer is an ASCII fold: NFC drops the grapheme, NFD keeps its base") {
    val fp = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val out = docs(1L -> nfc, 2L -> nfd)
      .select(col("doc_id"), fp.as("fp")).as[(Long, String)].collect().toMap
    assert(out(1L) === "caf p t",   "NFC: é/â are single non-ascii code points, folded away")
    // NFD: base letters survive but the in-word combining marks
    // become separators — the fold SPLITS the word ("pa te"), it does
    // not reassemble "pate". ASCII-centric, and both engines agree.
    assert(out(2L) === "cafe pa te")
    assert(out(1L) !== out(2L))
  }

  test("zero-width characters are token glue, not separators; defective combining mark is data") {
    val zw = "z\u200dw\u200cj a\u200bb" // ZWJ, ZWNJ, ZWSP
    val defective = "\u0301lead"          // combining acute, no base
    val t = docs(1L -> zw, 2L -> defective)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    assert(t(1L) === Seq("z\u200dw\u200cj", "a\u200bb"))
    assert(t(2L) === Seq("\u0301lead"))
  }
}
