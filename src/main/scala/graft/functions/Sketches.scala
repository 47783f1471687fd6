package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency sketches for 100 TB-scale profiling:
  * HyperLogLog approximate-distinct and Count-Min frequency estimation.
  *
  * Why sketches at all: at pretraining-corpus scale, `COUNT(DISTINCT x)`
  * and exact per-token frequency tables are shuffle-bound — the shuffle
  * carries every distinct value. Both sketches here reduce that to a
  * FIXED-size state per group (1024 registers / 4×1024 counters) with
  * map-side combine, so the shuffle volume is O(groups), not O(distinct
  * values). Both are deterministic and order-independent (register = max,
  * counter = sum), so results are reproducible across cluster layouts and
  * restatable in any engine with an md5 builtin — the same property the
  * rest of the dedup family builds on (see `Dedup.simhash`).
  *
  * The reference engine profiles its stores with exact SPARQL counts
  * (e.g. `core/src/main/com/thymeflow/rdf/repository/Repository.scala`
  * store sizing); these operators are the scale-path equivalent for
  * corpus statistics.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * columns — no UDFs, no driver loops; whole-stage codegen covers the
  * hash→bucket→rho pipeline.
  */
object Sketches {

  /** 60-bit md5-family hash — `conv(substr(md5(x),1,15),16,10)`, the
    * engine-portable token hash that `simhash_md5`
    * ([[graft.dedup.Dedup.simhashPairsMd5]]) computes natively. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------------
  // HyperLogLog (Flajolet et al. 2007), p = 10 → m = 1024 registers.
  // ---------------------------------------------------------------------

  val HllP = 10
  val HllM = 1024 // 1 << HllP
  /** Width of the rho window: 60-bit hash minus the p bucket bits. */
  val HllW = 50

  /** Per-(group, bucket) registers: `max(rho)` where rho is the position
    * of the leftmost 1-bit in the 50-bit window (1-based; 51 when the
    * window is all zeros). `length(bin(w))` is the portable bit-length —
    * both Spark and DuckDB render binary without leading zeros, so the
    * expression restates exactly in the oracle.
    *
    * The `groupBy(..., bucket).agg(max)` gets map-side combine: each map
    * task emits at most m rows per group regardless of input size — the
    * shuffle is O(groups × 1024), independent of cardinality.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], keyCol: Column): DataFrame = {
    val h = md5Hash60(keyCol)
    val bucket = shiftright(h, HllW).as("bucket")
    val w = h.bitwiseAND(lit((1L << HllW) - 1))
    val rho = when(w === 0L, lit(HllW + 1))
      .otherwise(lit(HllW + 1) - length(bin(w)))
      .cast("int")
    // NULL keys drop out (standard distinct-count semantics): md5(null)
    // is a null bucket whose register row would inflate n_present and
    // skew zeros/est_raw with no element behind it
    df.where(keyCol.isNotNull)
      .select(groupCols.map(col) :+ bucket :+ rho.as("rho"): _*)
      .groupBy(groupCols.head, (groupCols.tail :+ "bucket"): _*)
      .agg(max(col("rho")).as("reg"))
  }

  /** Merge two register tables (same grouping): union → max. Register max
    * is associative/commutative/idempotent, so sketches built on disjoint
    * data splits (days, shards, clusters) combine exactly — the property
    * that makes HLL the 100 TB answer. */
  def hllMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(groupCols.head, (groupCols.tail :+ "bucket"): _*)
      .agg(max(col("reg")).as("reg"))

  /** Integral per-group sketch summary — every column is exact integer
    * arithmetic plus one raw-estimate floor built ONLY from IEEE basic ops
    * (+,-,*,/ are bit-exact across engines; no libm), so the whole row is
    * hash-comparable against an oracle restating the same formulas:
    *   n_present  — registers with at least one element
    *   sum_reg    — Σ reg (a compact fingerprint of the register vector)
    *   inv_sum    — Σ 2^(51-reg)  (the harmonic-sum numerator, exact long)
    *   est_raw    — floor(alpha·m²·2^51 / (inv_sum + zeros·2^51))
    */
  def hllSummary(df: DataFrame, groupCols: Seq[String], keyCol: Column): DataFrame = {
    val regs = hllRegisters(df, groupCols, keyCol)
    val twoP51 = 1L << (HllW + 1)
    val summary = regs
      .groupBy(groupCols.head, groupCols.tail: _*)
      .agg(
        count(lit(1)).as("n_present"),
        sum(col("reg")).cast("long").as("sum_reg"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${HllW + 1} - reg AS INT))"))
          .cast("long").as("inv_sum"))
    // alpha_1024 · m² · 2^51 as one literal-folded double, identical
    // parse/ops in the oracle SQL; denominator cast long→double is IEEE
    // round-to-nearest in both engines.
    val est = floor(
      lit(((0.7213 / (1.0 + 1.079 / HllM.toDouble)) * (HllM.toDouble * HllM.toDouble)) * twoP51.toDouble) /
        (col("inv_sum") + (lit(HllM.toLong) - col("n_present")) * lit(twoP51)).cast("double"))
      .cast("long").as("est_raw")
    summary.select((groupCols.map(col) :+ col("n_present") :+ col("sum_reg") :+
      col("inv_sum") :+ est): _*)
  }

  /** Library-facing estimate with the standard small-range correction:
    * linear counting `m·ln(m/zeros)` when the raw estimate ≤ 2.5m and
    * empty registers remain. Uses libm `ln` — accurate but not
    * engine-bit-exact, so it lives OUTSIDE the oracle-compared columns
    * (spec-verified against exact counts instead). */
  def hllEstimate(df: DataFrame, groupCols: Seq[String], keyCol: Column): DataFrame = {
    val s = hllSummary(df, groupCols, keyCol)
    val twoP51 = (1L << (HllW + 1)).toDouble
    val zeros = lit(HllM.toLong) - col("n_present")
    val raw = lit((0.7213 / (1.0 + 1.079 / HllM)) * HllM * HllM * twoP51) /
      (col("inv_sum").cast("double") + zeros.cast("double") * lit(twoP51))
    val est = when(raw <= lit(2.5 * HllM) && zeros > 0,
      lit(HllM.toDouble) * log(lit(HllM.toDouble) / zeros.cast("double")))
      .otherwise(raw)
    s.withColumn("estimate", est)
  }

  // ---------------------------------------------------------------------
  // Count-Min sketch (Cormode & Muthukrishnan 2005), d = 4 rows, w = 1024.
  // ---------------------------------------------------------------------

  val CmsD = 4
  val CmsW = 1024

  /** Row-r bucket of a key: md5 of the salted key, mod w. Salting with the
    * row index gives d independent hash functions from one md5 family. */
  def cmsBucket(key: Column, row: Int): Column =
    md5Hash60(concat(lit(row.toString), lit(":"), key)) % CmsW

  /** Build the d×w counter table from a key column: one narrow pass
    * (d-way posexplode of the bucket array), then a `groupBy(row, bucket)`
    * count — map-side combine caps every map task's output at d·w rows,
    * so the sketch costs one O(d·w) shuffle however large the input.
    * Output: (row, bucket, cnt) — at most d·w = 4096 rows total. */
  def cmsSketch(df: DataFrame, keyCol: Column): DataFrame = {
    val buckets = array((0 until CmsD).map(r => cmsBucket(keyCol, r)): _*)
    df.select(posexplode(buckets).as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge: counters are sums — elementwise add (union → sum). */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("row", "bucket").agg(sum("cnt").as("cnt"))

  /** Point-estimate the frequency of each candidate key: min over the d
    * rows of the key's counter (the classic overestimate-only bound).
    * The 4096-row sketch broadcasts; candidates stream through a
    * BroadcastHashJoin — no candidate-side shuffle beyond the final
    * per-key min (d rows per key). Output: (key, est). */
  def cmsEstimate(candidates: DataFrame, keyCol: Column, sketch: DataFrame): DataFrame = {
    val keyed = candidates
      .select(keyCol.as("key"))
      .distinct()
      .select(col("key"),
        posexplode(array((0 until CmsD).map(r => cmsBucket(col("key"), r)): _*))
          .as(Seq("row", "bucket")))
    // LEFT join + coalesce 0: the sketch stores only non-zero cells, and
    // an inner join dropped a key's EMPTY cells from the min — a key the
    // sketch never saw could return a positive estimate (or vanish
    // entirely when all its cells were empty) instead of the true CMS
    // min of 0
    keyed.join(broadcast(sketch), Seq("row", "bucket"), "left_outer")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
