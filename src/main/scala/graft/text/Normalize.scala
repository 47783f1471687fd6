package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unicode normalization for text keys and dedup inputs. The same
  * logical string arrives from the web in composed (NFC) and decomposed
  * (NFD) forms — "é" as U+00E9 or as e + U+0301 — and every
  * hash/equality-based operator in this engine (exact dedup keys,
  * blocking tokens, URL hosts) silently treats them as distinct unless
  * the corpus is normalized first. NFC is the canonical-composition
  * fix; `foldMarks` additionally strips combining marks after NFD
  * (accent folding — café→cafe) for match keys where diacritics are
  * noise, not signal.
  *
  * Runs as native codegen expressions ([[graft.functions.UnicodeNfc]] /
  * [[graft.functions.FoldMarks]], registered by `GraftExtensions`) —
  * map-only, no shuffle, is-already-NFC fast path. NFC is
  * standard-defined so the DuckDB oracle (`nfc_normalize`) agrees by
  * construction; accent folding has no cross-engine standard and is
  * spec-pinned instead.
  */
object Normalize {

  /** Adds `<out>` = NFC(textCol). */
  def nfcCol(df: DataFrame, textCol: String, out: String): DataFrame =
    df.withColumn(out, call_function("unicode_nfc", col(textCol)))

  /** Adds `<out>` = accent-folded(textCol). */
  def foldMarksCol(df: DataFrame, textCol: String, out: String): DataFrame =
    df.withColumn(out, call_function("fold_marks", col(textCol)))
}
