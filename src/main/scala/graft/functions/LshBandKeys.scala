package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native banded-LSH bucket keys as one codegen'd Catalyst expression:
  * `lsh_band_keys(v, bitsPerBand, bands)` (and its
  * `lsh_band_keys_lin` twin) → `array<string>` of `bands` keys, each
  * `"<band>:"` + that band's hyperplane sign bits. The two SQL names
  * differ only in the hyperplane weights, the [[LshFamily]].
  *
  * WHY an expression and not a Column tree: the declarative form is
  * bands × bitsPerBand plane dots, each a 64-term sum — at 6 bands ×
  * 5 bits that is a ~1.9k-node expression whose generated Java exceeds
  * the JVM's 64 KB method limit. Janino then fails, Spark re-attempts
  * the compile and falls back to interpreted eval, and the query pays
  * ~5 s of fixed compile+interpret cost REGARDLESS of row count
  * (measured at sf0.1: 5.9 s for 300 rows). This expression is one
  * method call, so whole-stage codegen stays intact and the per-row
  * cost is the arithmetic itself.
  *
  * Each plane dot accumulates left-to-right in index order — the same
  * IEEE additions as the left-associated `reduce(_ + _)` Column chain
  * and the SQL oracles' folds, so sign bits (and therefore buckets and
  * candidate pairs) cannot drift.
  */
case class LshBandKeys(first: Expression, second: Expression, third: Expression,
    family: LshFamily) extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = family.sqlName
  // the family shows through the name, not as a fourth argument
  override protected def stringArgs: Iterator[Any] = Iterator(first, second, third)

  override protected def nullSafeEval(v: Any, bitsPerBand: Any, bands: Any): Any =
    family.keys(v.asInstanceOf[ArrayData],
      bitsPerBand.asInstanceOf[Int], bands.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fam = ctx.addReferenceObj("lshFamily", family, classOf[LshFamily].getName)
    defineCodeGen(ctx, ev, (v, b, n) => s"$fam.keys($v, $b, $n)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LshBandKeys =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType, IntegerType)
        if second.foldable && third.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${family.sqlName} requires (array<double>, literal int, literal int), got " +
            s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
            s"${third.dataType.catalogString})")
    }
}

/** A hyperplane weight family of [[LshBandKeys]]: its SQL name and the
  * (planes × dim) weight table, cached per (dim, planes) as primitive
  * arrays so the hot loop never recomputes a weight. */
sealed abstract class LshFamily(val sqlName: String, usage: String) extends Serializable {

  protected def table(dim: Int, planes: Int): Array[Array[Double]]

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** All band keys for one vector. Inputs must be containsNull=false
    * arrays: ArrayData.getDouble on a null slot reads 0.0 (the slot
    * silently drops out of the dot product), whereas the declarative
    * Column chain would null-propagate the whole sum and
    * `when(null >= 0)` would emit a '0' bit — the two paths diverge on
    * null-containing vectors, so we don't accept them (the embeddings
    * table and every caller produce dense non-null arrays;
    * VectorOpsSpec pins native ≡ declarative on that domain). */
  def keys(v: ArrayData, bitsPerBand: Int, bands: Int): ArrayData = {
    val dim = v.numElements()
    val ws = cache.computeIfAbsent((dim, bitsPerBand * bands), k => table(k._1, k._2))
    val out = new Array[Any](bands)
    var j = 0
    while (j < bands) {
      val sb = new java.lang.StringBuilder(bitsPerBand + 4)
      sb.append(j).append(':')
      var b = 0
      while (b < bitsPerBand) {
        val w = ws(j * bitsPerBand + b)
        var s = 0.0
        var i = 0
        while (i < dim) { s += v.getDouble(i) * w(i); i += 1 }
        sb.append(if (s >= 0) '1' else '0')
        b += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[LshBandKeys].getName, null, sqlName, s"_FUNC_(v, bitsPerBand, bands) - $usage", "")
}

object LshFamily {

  /** MurmurHash3-drawn hyperplanes from
    * [[graft.operators.VectorOps.lshWeights]] (the single formula
    * source), which an SQL oracle replays as pre-rendered literals. */
  case object Murmur extends LshFamily("lsh_band_keys",
      "banded random-hyperplane LSH bucket keys ('<band>:' + sign bits) of a double vector.") {
    protected def table(dim: Int, planes: Int): Array[Array[Double]] =
      graft.operators.VectorOps.lshWeights(dim, planes).map(_.toArray).toArray
  }

  /** The ORACLE-EXPRESSIBLE family. Murmur weights can only be replayed
    * as literals — fine while bitsPerBand is fixed, impossible once the
    * bit width becomes a function of the corpus size (the production
    * dial: bits ≈ log2(N/64) keeps expected bucket occupancy constant,
    * so candidate volume grows LINEARLY in N instead of
    * quadratically). These weights derive from pure integer arithmetic
    * in (plane, dim) that DuckDB can evaluate inside a lambda for ANY
    * runtime bit count:
    *
    *   p = band·bitsPerBand + bit        (global plane index)
    *   a(p,i) = (p·31 + i·17 + 7) mod 8191
    *   w(p,i) = ((a² · (p+13)) mod 8191 mod 2001 − 1000) / 1000.0
    *
    * The quadratic a² term mixes plane and dim NON-linearly (a purely
    * affine family would make every plane a circular shift of the
    * first — the additive-mixing trap the bootstrap-CI and JL surfaces
    * hit; see the deterministic-hashing note in the verify skill). All
    * integer intermediates stay ≤ ~7.4e9 (exact in Long and DuckDB
    * BIGINT), the division by 1000.0 is exact-to-IEEE on both engines,
    * and the left-to-right plane dot matches DuckDB's
    * `list_reduce(list_transform(range(0, dim), ...), (x, y) -> x + y)`
    * fold exactly (the fold starts at element 0 instead of 0.0 +
    * element 0, which differs only on the sign of a zero sum —
    * invisible to the `s >= 0` sign test both sides use). */
  case object Lin extends LshFamily("lsh_band_keys_lin",
      "banded LSH bucket keys ('<band>:' + sign bits) from the oracle-expressible " +
        "integer weight family.") {

    /** The single weight-formula source — mirrored verbatim by the SQL
      * lambda in [[graft.operators.VectorOps.lshLinKeysSql]]. */
    def weight(p: Long, i: Long): Double = {
      val a = (p * 31 + i * 17 + 7) % 8191
      ((a * a * (p + 13)) % 8191 % 2001 - 1000).toDouble / 1000.0
    }

    protected def table(dim: Int, planes: Int): Array[Array[Double]] =
      Array.tabulate(planes, dim)((p, i) => weight(p.toLong, i.toLong))
  }
}
