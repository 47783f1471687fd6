package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Bloom-filter join pruning: build a compact bit set from the small
  * side's join keys, broadcast it inside a codegen'd predicate, and drop
  * probe-side rows BEFORE they enter the join shuffle.
  *
  * Why this matters at 100 TB: a selective dimension (say 2% of orders)
  * joined to a fact table still shuffles the FULL fact table unless the
  * selectivity reaches the fact scan. A bloom filter carries that
  * selectivity in O(bits) broadcast state: false positives only cost a
  * little extra shuffle (the exact join removes them), false negatives
  * are impossible, so the result is exactly the plain join — which is
  * also why the oracle for the driver query is the plain SQL join.
  * Spark's own runtime filtering (`spark.sql.optimizer.runtime.bloomFilter
  * .enabled`) applies the same idea when statistics allow; this operator
  * makes it explicit and deterministic for pipeline authors.
  *
  * Layout: m bits (power of two) as m/64 longs. Positions come from the
  * two 32-bit halves of `xxhash64(key)` combined Kirsch-Mitzenmacher
  * style (`h1 + i·h2`): the arithmetic stays under 2^36, so it is
  * ANSI-overflow-safe in column form and matches the JVM test helper
  * bit-for-bit.
  */
object BloomJoin {

  /** Default size: 1 Mi bits = 128 KiB broadcast. At ~1M build keys this
    * is ~10% fill with k=5 → <1% false positives. */
  val DefaultNumBits = 1 << 20
  val DefaultNumHashes = 5

  private def h1(h: Column): Column = h.bitwiseAND(lit(0xFFFFFFFFL))
  private def h2(h: Column): Column =
    shiftright(h, 32).bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L))

  /** The k bit positions of a key column (long array column). */
  private def positions(key: Column, numBits: Int, k: Int): Column = {
    val h = xxhash64(key)
    array((0 until k).map(i =>
      (h1(h) + lit(i.toLong) * h2(h)).bitwiseAND(lit(numBits.toLong - 1))): _*)
  }

  /** Build the bit set from the build side's keys — one narrow pass
    * (k-way explode), a `groupBy(word)` OR-reduce with map-side combine
    * (≤ m/64 rows per task), and one bounded collect of ≤ m/64 rows. */
  def buildBits(build: DataFrame, key: Column,
      numBits: Int = DefaultNumBits, k: Int = DefaultNumHashes): Array[Long] = {
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      "numBits must be a power of two >= 64")
    val words = build
      .select(explode(positions(key, numBits, k)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))").as("bit"))
      .groupBy("word")
      .agg(expr("bit_or(bit)").as("bits"))
      .collect()
    val bits = new Array[Long](numBits / 64)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    bits
  }

  /** Membership column over the plan-embedded bits — routed through the
    * session registry (`GraftExtensions` injects `bloom_might_contain`);
    * the bits travel as a foldable array literal the builder unpacks once
    * at plan time, NOT per row. */
  def mightContain(key: Column, bits: Array[Long], k: Int = DefaultNumHashes): Column =
    call_function("bloom_might_contain", xxhash64(key), lit(bits), lit(k))

  /** Prune-then-join: filter the probe side through the bloom bits built
    * from the build side, then run the exact equi-join. The filter sits
    * below the probe side's exchange, so the shuffle only carries rows
    * that can possibly match (plus the bounded false-positive tail). */
  def prunedJoin(probe: DataFrame, probeKey: String, build: DataFrame,
      buildKey: String, numBits: Int = DefaultNumBits,
      k: Int = DefaultNumHashes): DataFrame = {
    val bits = buildBits(build, build(buildKey), numBits, k)
    probe.where(mightContain(probe(probeKey), bits, k))
      .join(build, probe(probeKey) === build(buildKey))
  }

  /** JVM twin of the column-side position math — called from both the
    * interpreted and generated paths of [[BloomMightContain]]. */
  def test(h: Long, bits: Array[Long], k: Int): Boolean = {
    val a = h & 0xFFFFFFFFL
    val b = ((h >>> 32) & 0xFFFFFFFFL) | 1L
    val mask = bits.length.toLong * 64 - 1
    var i = 0
    while (i < k) {
      val pos = (a + i * b) & mask
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63).toInt)) == 0L) return false
      i += 1
    }
    true
  }
}

/** `bloom_might_contain(hash, bits, k)` over a plan-embedded bit set: the
  * bits ride into generated code via `ctx.addReferenceObj`, so the
  * probe-side scan filter stays inside whole-stage codegen — no UDF, no
  * broadcast-join machinery on the pruning path. */
case class BloomMightContain(child: Expression, bits: Array[Long], k: Int)
    extends UnaryExpression {
  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain needs a bigint hash, got $other")
    }
  override protected def nullSafeEval(input: Any): Any =
    BloomJoin.test(input.asInstanceOf[Long], bits, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.operators.BloomJoin.test($c, $bitsRef, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
