package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference forms of [[TextFunctions]] kernels that only the specs call. */
object TextFunctionsOracles {

  /** The regex form [[graft.plans.CleanWsExpr]] replicates — the
    * differential-spec reference (and the exact shape of the q104
    * oracle's DuckDB side).
    */
  def normalizeTextComposed(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.plans.NfcNormalizeExpr(text), TextFunctions.ControlCharPattern, ""),
      "\\s+", " "))
}
