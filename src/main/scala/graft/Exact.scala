package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-determinism helpers (SURVEY.md §3).
  *
  * Distributed double summation is order-dependent, and the driver
  * hash-compares our parquet output against a DuckDB oracle. Every aggregate
  * we emit therefore goes through exact decimal arithmetic (associative — the
  * shuffle/AQE order cannot change the result) and is converted to a plain
  * double exactly once at the end. Ratios are computed in the final projection
  * from exact decimal sums and exact counts with the identical IEEE expression
  * the oracle SQL uses, so the doubles match bit-for-bit.
  */
object Exact {
  /** Scale-6 decimal: no double is exactly halfway between two scale-6
    * decimals unless it is also a scale-7 decimal (never for real data), so
    * the rounding mode difference between engines cannot bite. */
  val Dec = "decimal(18,6)"

  /** Exact decimal sum (keep as decimal for further exact arithmetic). */
  def decSum(c: Column): Column = sum(c.cast(Dec))

  /** Exact decimal sum emitted as a double column — through the
    * engine-portable [[dec6ToDouble]] sequence (a plain decimal→double
    * cast is not portable past a 9e9 sum; see there). */
  def decSumDbl(c: Column): Column = dec6ToDouble(decSum(c))

  /** long-typed count(*) — matches DuckDB COUNT(*) BIGINT. */
  def countAll: Column = count(lit(1))

  /** 2^62 split base for [[bigDecToDouble]]. */
  private val SplitB = 4611686018427387904L

  /** Engine-portable DECIMAL(38,0) → DOUBLE for non-negative values.
    *
    * A direct decimal→double cast is NOT portable past 2^63: DuckDB converts
    * its int128 backing store in two pieces with independent roundings,
    * while Spark rounds the BigDecimal once. And the old recipe —
    * `.cast("long").cast("double")` — THROWS [CAST_OVERFLOW] under ANSI the
    * moment the sum passes 2^63 (measured: a 60k-row country group of cent²
    * deviations at the 10× corpus hits 1.2e19). This splits at 2^62: both
    * pieces fit BIGINT exactly, hi·2^62 is an exact power-of-two multiply,
    * and the single closing add is one correctly-rounded IEEE op — the same
    * three-step sequence the oracle runs, so the doubles stay bit-identical.
    * Domain: |v| < 2^125 (hi must fit BIGINT) — matches the SQL twin
    * [[bigDecToDoubleSql]]. DECIMAL(38,0) tops out at ~10^38 ≈ 2^126, so
    * values in (2^125, 10^38) fail LOUDLY (the `.cast("long")` overflows
    * under ANSI / longValueExact throws) rather than rounding silently. */
  def bigDecToDouble(c: Column): Column = {
    val b = lit(BigDecimal(SplitB)).cast("decimal(38,0)")
    val lo = c % b
    val hi = ((c - lo) / b).cast("long")
    hi.cast("double") * lit(SplitB.toDouble) + lo.cast("long").cast("double")
  }

  /** DuckDB twin of [[bigDecToDouble]] over a DECIMAL(38,0) column expr.
    * Callers should bind `vExpr` to a named column (it is referenced 2×).
    *
    * The split MUST run in HUGEINT integer division: DuckDB evaluates
    * DECIMAL/DECIMAL division through DOUBLE, so the previous
    * `(v - v%b)/b` form rounded `hi` at 53 bits — exact only while
    * v < 2^115 ≈ 4.2e34. The 100× gate caught normality_check's Σ(d²)²
    * crossing that bound (hi at 56 bits → kurtosis off by 2 ulps). With
    * `//` both extracts are exact and the rounding sequence is the
    * canonical one for any |v| < 2^125 (hi must fit BIGINT), which covers
    * the full DECIMAL(38,0) range up to ~4.2e37. */
  def bigDecToDoubleSql(vExpr: String): String = {
    val b = s"CAST($SplitB AS HUGEINT)"
    s"((CAST(CAST(CAST($vExpr AS HUGEINT) // $b AS BIGINT) AS DOUBLE) * ${SplitB.toDouble})" +
      s" + CAST(CAST(CAST($vExpr AS HUGEINT) % $b AS BIGINT) AS DOUBLE))"
  }

  /** Driver-side JVM twin of [[bigDecToDouble]]/[[bigDecToDoubleSql]] for
    * integer-valued BigDecimals collected to the driver (DetKMeans embeds
    * cluster-mean literals computed with EXACTLY the sequence the oracle's
    * SQL runs: hi/lo split at 2^62, two exact long extracts, one rounded
    * long→double cast each, one rounded multiply, one rounded add —
    * sign-aware like [[bigDecToDoubleSigned]]). */
  def bigDecToDoubleJvm(v: java.math.BigDecimal): Double = {
    val neg = v.signum() < 0
    val a = v.abs.toBigIntegerExact
    val b = java.math.BigInteger.valueOf(SplitB)
    val qr = a.divideAndRemainder(b)
    val d = qr(0).longValueExact().toDouble * SplitB.toDouble +
      qr(1).longValueExact().toDouble
    if (neg) -d else d
  }

  /** Sign-aware [[bigDecToDouble]] for sums that can go negative (odd central
    * moments like Σd³). The `%`/`//` pair is only engine-portable for
    * non-negative operands (the engines' negative-remainder conventions are
    * theirs to choose), so the split runs on `abs(v)` and the sign is
    * reapplied afterwards — IEEE negation is exact, so both engines still
    * execute the identical rounding sequence. */
  def bigDecToDoubleSigned(c: Column): Column = {
    val v = c.cast("decimal(38,0)")
    val conv = bigDecToDouble(abs(v))
    when(v < 0, -conv).otherwise(conv)
  }

  /** DuckDB twin of [[bigDecToDoubleSigned]]. Callers should bind `vExpr` to
    * a named column (it is referenced several times; these run on post-agg
    * group-count-sized frames, so the duplication is free). */
  def bigDecToDoubleSignedSql(vExpr: String): String = {
    val a = s"abs(CAST($vExpr AS DECIMAL(38,0)))"
    s"(CASE WHEN $vExpr < 0 THEN -${bigDecToDoubleSql(a)} ELSE ${bigDecToDoubleSql(a)} END)"
  }

  /** Engine-portable scale-6 DECIMAL → DOUBLE for aggregate sums.
    *
    * A plain `SUM(decimal).cast("double")` is NOT portable once the sum's
    * unscaled value passes 2^53 (≈ a 9e9 money sum at scale 6): Spark
    * rounds the BigDecimal once (correctly-rounded true value) while DuckDB
    * computes `double(unscaled) / double(10^scale)` — two roundings. The
    * 100× gate caught enriched_sales' continent-grain revenue (2.4e11)
    * differing in the last ulp exactly this way. Fixed-cardinality group
    * sums (returnflag, continent, priority, month…) are data-proportional,
    * so ANY of them crosses the bound at sufficient scale.
    *
    * This runs the agreed sequence on both engines instead: the integer
    * part (extracted exactly via `% 1`, which both engines compute exactly
    * on decimals) goes through the [[bigDecToDouble]] 2^62 split; the
    * scale-6 fraction converts in one correctly-rounded cast on both
    * engines (its unscaled part < 10^6 < 2^53); one closing IEEE add.
    * Verified bit-equal to the JVM replica over 4000 randomized DuckDB
    * probes up to 2^121 unscaled. The sequence equals the plain
    * correctly-rounded cast whenever the integer part is 0 or ≥ 2·5^6
    * (≈31k): the fraction's 5^6 denominator then sits ≥ one inner-rounding
    * error away from every tie of the closing add. Between those bounds
    * (tiny sums only) it may differ from the plain cast by 1 ulp — still
    * identical on BOTH engines, which is the property the gate needs;
    * measured at sf0.01, every money-sum query was byte-identical
    * pre/post switch and only sub-31k events-window sums moved 1 ulp. */
  def dec6ToDouble(c: Column): Column = graft.functions.Dec6ToDouble.of(c)

  /** The per-row kernel behind [[graft.functions.Dec6ToDouble]] (called
    * from generated code): rescale to 6 (exact for every caller — inputs
    * are scale ≤ 6), then the agreed sequence. The ≤62-bit-unscaled fast
    * path is pure long/double arithmetic and bit-identical to the split:
    * micros < 2^62 ⇒ ip < 2^42, so the 2^62 split degenerates to one
    * exact integer cast, and `(double) frMicros / 1e6` is the same single
    * correctly-rounded operation as the decimal fraction cast. */
  def dec6Portable(bd0: java.math.BigDecimal): Double = {
    var bd = bd0
    if (bd.scale != 6) bd = bd.setScale(6, java.math.RoundingMode.HALF_UP)
    val neg = bd.signum < 0
    val a = if (neg) bd.negate else bd
    val u = a.unscaledValue
    val r =
      if (u.bitLength <= 62) {
        val m = u.longValue
        (m / 1000000L).toDouble + (m % 1000000L).toDouble / 1000000.0
      } else dec6ToDoubleJvm(a)
    if (neg) -r else r
  }

  /** DuckDB twin of [[dec6ToDouble]]. Callers should bind `vExpr` to a
    * named column (it is referenced several times; post-agg frames only). */
  def dec6ToDoubleSql(vExpr: String): String = {
    val a = s"abs(CAST($vExpr AS DECIMAL(38,6)))"
    val fr = s"($a % CAST(1 AS DECIMAL(38,6)))"
    val ip = s"CAST($a - $fr AS DECIMAL(38,0))"
    val conv = s"(${bigDecToDoubleSql(ip)} + CAST($fr AS DOUBLE))"
    s"(CASE WHEN $vExpr < 0 THEN -$conv ELSE $conv END)"
  }

  /** Driver-side JVM twin of [[dec6ToDouble]] (same role as
    * [[bigDecToDoubleJvm]]: the identical rounding sequence for values
    * collected to the driver, and the spec anchor for the Column form). */
  def dec6ToDoubleJvm(v: java.math.BigDecimal): Double = {
    val neg = v.signum() < 0
    val a = v.abs
    val fr = a.remainder(java.math.BigDecimal.ONE)
    val ip = a.subtract(fr).toBigIntegerExact
    val b = java.math.BigInteger.valueOf(SplitB)
    val qr = ip.divideAndRemainder(b)
    val conv = qr(0).longValueExact().toDouble * SplitB.toDouble +
      qr(1).longValueExact().toDouble + fr.doubleValue()
    if (neg) -conv else conv
  }

  /** `n` exact integer sums kept in PLAIN LONGS with a BigInteger carry —
    * the typed-aggregate buffer of [[graft.ml.DetKMeans.fit]]'s Lloyd's
    * loop and [[graft.ann.Ann.isClustered]]. [[add]] allocates nothing
    * unless the long partial would overflow; then the partial moves into
    * the carry and the long restarts at the addend. Exact for ANY long
    * addends, and the decomposition into carried chunks is associative, so
    * partition order cannot change [[total]]. A BigInteger per row per
    * term was the first cut of the Lloyd's loop (~600M objects at the
    * 100× probe; GC made rep times grow run-over-run). */
  final class LongSums(val size: Int) extends Serializable {
    private val lo = new Array[Long](size)
    private val carry = Array.fill(size)(java.math.BigInteger.ZERO)

    def add(i: Int, v: Long): Unit = {
      val a = lo(i)
      val s = a + v
      if (((a ^ s) & (v ^ s)) < 0) { // signed overflow (Math.addExact's test)
        carry(i) = carry(i).add(java.math.BigInteger.valueOf(a))
        lo(i) = v
      } else lo(i) = s
    }

    /** Folds `o` into this buffer (the treeAggregate combOp). */
    def merge(o: LongSums): Unit = {
      var i = 0
      while (i < size) {
        carry(i) = carry(i).add(o.carry(i))
        add(i, o.lo(i))
        i += 1
      }
    }

    def total(i: Int): java.math.BigInteger =
      carry(i).add(java.math.BigInteger.valueOf(lo(i)))
  }
}
