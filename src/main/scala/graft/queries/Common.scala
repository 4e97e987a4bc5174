package graft
package queries

/** DuckDB oracle building blocks used by more than one query family.
  * Builders and constants only one family uses live in that family's file.
  */
private[graft] object Common {
  // SQL mirrors of graft.Quant — see its doc for why scale-0 rounding over
  // integer micro-units is the only float contract both engines compute
  // bit-identically. Any float column added to `queries` MUST use these.
  def Q6(x: String) = s"round(($x) * 1000000.0, 0) / 1000000.0 + 0"

  /** The pigeonhole chunk bucket rows (doc_id, ci, cv) over a
    * (doc_id, sig) CTE — rendered from the SAME Dedup.hammingComboSpec
    * the engine folds, shift-for-shift, so the grid the load audits
    * price cannot desync between engines.
    */
  def comboCkSql(src: String, maxHamming: Int): String =
    graft.text.Dedup.hammingComboSpec(maxHamming).map { case (ci, spec) =>
      val key = spec.foldLeft("CAST(0 AS BIGINT)") { case (acc, (lo, w)) =>
        s"((($acc) << $w) | ((sig >> $lo) & ${(1L << w) - 1}))"
      }
      s"SELECT doc_id, $ci AS ci, $key AS cv FROM $src"
    }.mkString("\nUNION ALL ")

  def US6(x: String) = s"CAST(round(($x) * 1000000.0, 0) AS BIGINT)"
  def MEAN6(sumUs: String, n: String) =
    s"round(CAST($sumUs AS DOUBLE) / $n, 0) / 1000000.0 + 0"
  /** 64-bit SimHash signature as a UBIGINT aggregate over per-word hashes
    * `h` — one OR-term per bit, set iff the ±1 vote sum is positive.
    */
  val SIMHASH_SIG_SQL = (0 until 64).map { b =>
    // literal bit masks: DuckDB's << overflows at bit 63 even on UBIGINT
    val mask = java.lang.Long.toUnsignedString(1L << b)
    s"(CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
      s"THEN $mask::UBIGINT ELSE 0::UBIGINT END)"
  }.mkString("(", " | ", ")")

  /** Index-ordered double dot product — mirrors graft.sim.Vectors.dotExpr
    * term-for-term so cosines are bit-identical across engines.
    */
  def DOT_SQL(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val NORM_SQL =
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** LSH hyperplane component — mirrors Vectors.planes: md5_number_lower of
    * "lsh|t|b|d" shifted to 53 bits, scaled to [-0.5, 0.5).
    */
  def PLANE_SQL(t: String, b: String, d: String): String =
    s"((md5_number_lower(concat('lsh|', $t, '|', $b, '|', $d)) >> 11) / 9007199254740992.0 - 0.5)"
}
