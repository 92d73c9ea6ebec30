package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** All [[as.length]] MinHash signature slots of one token array in ONE
  * pass — the fused form of the per-row SQL chain
  * `transform(tokens, t -> struct(x1, x2))` + k separate
  * `array_min(transform(hs, ...))` projections, which walked the token
  * array k+1 times through interpreted higher-order-function
  * evaluation (HOFs are CodegenFallback, and each element step pays
  * the expression-tree walk plus struct boxing).
  *
  * BIT-PARITY with the SQL chain, term for term:
  *   x1 = CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % p
  *      = (first 60 bits of the MD5 digest, big-endian) % p
  *   x2 = the same for hex chars 17..31 (digest bytes 8..15 >>> 4)
  *   sig_i = min over tokens of (x1*as(i) % p + x2*bs(i) % p + cs(i)) % p
  * All values stay < 2^31 (p = 2^31 - 1), so every product fits signed
  * 64-bit exactly as the SQL side's BIGINT math does. A NULL token
  * contributes nothing (array_min skips the NULL element the SQL chain
  * produced for it); an empty token array yields all-NULL slots
  * (array_min of an empty array is NULL).
  *
  * At shingle width `w` > 1 the hashed units are the n - w + 1 windows
  * of `w` consecutive tokens, each hashed as
  * `concat_ws(' ', slice(tokens, i + 1, w))` would be: the window's
  * token bytes and the ' ' separators go through `md.update` in turn,
  * so no shingle string or array is built. A NULL token and its
  * separator are skipped, and a window of NULL tokens only contributes
  * nothing (at `w` = 1, the NULL-token rule above). Fewer than `w`
  * tokens yields all-NULL slots.
  */
case class MinHashSigs(child: Expression, w: Int, p: Long,
    as: Seq[Long], bs: Seq[Long], cs: Seq[Long])
    extends UnaryExpression with CodegenFallback {
  require(w >= 1, s"shingle width $w < 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs expects array<string>, got $t")
    }

  private lazy val aArr = as.toArray
  private lazy val bArr = bs.toArray
  private lazy val cArr = cs.toArray

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val k = aArr.length
    val n = toks.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i + w <= n) {
      // digest the window's non-NULL tokens joined by ' ' (w = 1: the token)
      var empty = true
      var t = i
      while (t < i + w) {
        if (!toks.isNullAt(t)) {
          if (!empty) md.update(' '.toByte)
          md.update(toks.getUTF8String(t).getBytes)
          empty = false
        }
        t += 1
      }
      if (!empty) {
        any = true
        val d = md.digest()
        // 60-bit halves = hex chars [0,15) and [16,31) of md5Hex:
        // big-endian 8-byte words shifted past the dropped low nibble
        var v1 = 0L; var v2 = 0L
        var b = 0
        while (b < 8) {
          v1 = (v1 << 8) | (d(b) & 0xffL)
          v2 = (v2 << 8) | (d(b + 8) & 0xffL)
          b += 1
        }
        val x1 = (v1 >>> 4) % p
        val x2 = (v2 >>> 4) % p
        var j = 0
        while (j < k) {
          val v = (x1 * aArr(j) % p + x2 * bArr(j) % p + cArr(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashOps {
  /** Column API: the k MinHash slots of a token-array column over its
    * `w`-token shingles (`w` = 1: the tokens themselves).
    */
  def minhashSigs(tokens: Column, w: Int, p: Long,
      as: Seq[Long], bs: Seq[Long], cs: Seq[Long]): Column =
    Bridge.toColumn(MinHashSigs(Bridge.toExpression(tokens), w, p, as, bs, cs))
}
