package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Order-sensitive document fingerprint: the polynomial rolling hash
  * `fp = fold((acc·31 + md5Long(tok)) mod 2^31−1)` over the token
  * sequence, as one native codegen'd pass — the fingerprint operator's
  * (q_text_fingerprint) hot loop, previously an interpreted fold with a
  * Column-expression md5 per token.
  *
  * Semantics pinned by RollingFingerprintSpec against the declarative
  * fold (TextHash.fingerprint, kept as the executable spec): a NULL token
  * poisons the accumulator (`acc·31 + NULL`) and nulls the result, a NULL
  * array yields NULL, an empty array yields the 0 seed.
  */
object RollingFingerprint extends NativeFunction("rolling_fingerprint",
    Seq(In.array(In.string)), LongType, NullRule.PropagateOrNull,
    "graft.functions.RollingFingerprintOps.run") {
  /** DataFrame-API entry. */
  def apply(toks: Column): Column = call(toks)
}

object RollingFingerprintOps {

  private val Mod = 2147483647L // 2^31 - 1, the fold's modulus

  def run(toks: ArrayData): java.lang.Long = {
    val n = toks.numElements()
    val md = Md5Ops.acquire()
    var acc = 0L
    var i = 0
    while (i < n) {
      // a NULL token poisons the fold (acc·31 + NULL) — mirror it exactly
      if (toks.isNullAt(i)) return null
      acc = (acc * 31 + Md5Ops.md5Long32(md, toks.getUTF8String(i))) % Mod
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}
