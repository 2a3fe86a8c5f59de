package graft

import graft.functions.{ArrDot, ArrDotL, ArrL2Sq, CharNgrams, FnvHash64, JsonTagsMap, LshBandKeys, LshBandKeysLin, MinHashSig, PackBlob, SimHash48, UnpackBlob, WinnowFps}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions into the session's function registry.
  *
  * Two ways in:
  *  - config: `spark.sql.extensions=graft.GraftExtensions` (new sessions)
  *  - programmatic: `GraftExtensions.register(spark)` (existing sessions
  *    — what the query pack uses, idempotent)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Every native function: (SQL name, info, builder). */
  private val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("fnv_hash64", FnvHash64.info, e => FnvHash64(e.head)),
    ("simhash48", SimHash48.info, e => SimHash48(e.head)),
    ("minhash_sig", MinHashSig.info, e => MinHashSig(e(0), e(1))),
    ("json_tags_map", JsonTagsMap.info, e => JsonTagsMap(e.head)),
    ("lsh_band_keys", LshBandKeys.info, e => LshBandKeys(e(0), e(1), e(2))),
    ("lsh_band_keys_lin", LshBandKeysLin.info, e => LshBandKeysLin(e(0), e(1), e(2))),
    ("arr_dot", ArrDot.info, e => ArrDot(e(0), e(1))),
    ("arr_l2sq", ArrL2Sq.info, e => ArrL2Sq(e(0), e(1))),
    ("arr_dotl", ArrDotL.info, e => ArrDotL(e(0), e(1))),
    ("pack_blob", PackBlob.info, e => PackBlob(e(0), e(1))),
    ("unpack_blob", UnpackBlob.info, e => UnpackBlob(e.head)),
    ("winnow_fps", WinnowFps.info, e => WinnowFps(e(0), e(1), e(2))),
    ("char_ngrams", CharNgrams.info, e => CharNgrams(e(0), e(1))))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name), info, builder)
    }
}
