package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native token counting (the custom-`Expression` extension tier, the
  * VectorDot pattern applied to the text side): counts maximal runs of
  * non-whitespace in ONE zero-allocation pass over the UTF8String's bytes.
  *
  * `size(tokens(text))` — the counting idiom everywhere a query needs token
  * counts but not tokens (q30's per-language stats, q81/q86's packing
  * weights) — materializes the full token ARRAY (one UTF8String slice per
  * token) only to take its length. At 100 TB that is allocation pressure
  * proportional to corpus token count, all garbage. This expression is
  * byte-identical in SEMANTICS to that idiom: whitespace is Java regex
  * `\s` = [ \t\n\x0B\f\r] (exactly bytes 0x09–0x0D and 0x20 — all ASCII,
  * so UTF-8 continuation bytes, which are ≥ 0x80 and read negative, can
  * never be mistaken for separators), and empty tokens are never counted
  * because only ws→non-ws transitions increment. TokenCountSpec pins
  * equality against `size(tokens(_))` on adversarial and fuzz inputs.
  */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_count expects a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var cnt = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val ws = b == 0x20 || (b >= 0x09 && b <= 0x0D)
      if (ws) inTok = false
      else if (!inTok) { cnt += 1; inTok = true }
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val cnt = ctx.freshName("cnt")
      val inTok = ctx.freshName("inTok")
      val ws = ctx.freshName("ws")
      s"""
         |int $n = $s.numBytes();
         |long $cnt = 0L;
         |boolean $inTok = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  byte $b = $s.getByte($i);
         |  boolean $ws = $b == 0x20 || ($b >= 0x09 && $b <= 0x0D);
         |  if ($ws) { $inTok = false; }
         |  else if (!$inTok) { $cnt++; $inTok = true; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static host for the normalization kernel: a plain object with NO
  * companion class, so Scala emits true static forwarders and generated
  * Java (Janino) can call `graft.plans.TextNorm.normalize(...)` directly. */
object TextNorm {
  private val Forms = Array(java.text.Normalizer.Form.NFC,
    java.text.Normalizer.Form.NFD, java.text.Normalizer.Form.NFKC,
    java.text.Normalizer.Form.NFKD)
  val FormNames: Seq[String] = Forms.map(_.name).toSeq

  def formOrdinal(name: String): Int = {
    val i = FormNames.indexOf(name.toUpperCase(java.util.Locale.ROOT))
    require(i >= 0, s"unknown normalization form '$name' (one of ${FormNames.mkString(",")})")
    i
  }

  /** Unicode-normalize a UTF8String. Fast paths keep the hot loop
    * allocation-free on real corpora: pure-ASCII bytes (the bulk of web
    * text) are invariant under every form and return the INPUT reference;
    * already-normalized non-ASCII returns the input after the (cheap,
    * non-allocating) `isNormalized` check. Only genuinely denormalized
    * rows pay the String round-trip. */
  def normalize(s: UTF8String, form: Int): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) { ascii = s.getByte(i) >= 0; i += 1 }
    if (ascii) return s
    val str = s.toString
    val f = Forms(form)
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native expression — the
  * canonicalization step a corpus runs before hashing/dedup (the same
  * document crawled from two sources can differ only in composed vs
  * combining-mark encoding and must digest identically). Spark ships no
  * normalization builtin; a Scala UDF would pay serialization and break
  * whole-stage codegen — this stays inside the generated loop and its
  * ASCII fast path never allocates (see [[TextNorm.normalize]]).
  * Reference coverage: text canonicalization ahead of the digest-based
  * dedup tier (SURVEY §2 dedup preprocessing). */
case class NormalizeText(child: Expression, form: String) extends UnaryExpression {

  private val formOrd = TextNorm.formOrdinal(form)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text expects a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TextNorm.normalize(input.asInstanceOf[UTF8String], formOrd)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.TextNorm.normalize($s, $formOrd);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static host for the MinHash kernel (no companion class, so generated
  * Java calls `graft.plans.Minhash.signature(...)` directly). */
object Minhash {
  /** The smallest prime above 2^32: the permutation modulus. */
  val Prime = 4294967311L

  /** sig[i] = min over the non-null `hashes` h of pmod(a(i)·h + b(i), Prime),
    * or null when no hash is non-null. The arithmetic is exact: it throws
    * on long overflow as ANSI `*`/`+` do, which 32-bit hashes and the
    * parameters of `Dedup.permParams` never reach, and `floorMod` by a
    * positive modulus equals Spark's `pmod`. */
  def signature(hashes: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < hashes.numElements()) {
      if (!hashes.isNullAt(j)) {
        val h = hashes.getLong(j)
        any = true
        var i = 0
        while (i < k) {
          val v = java.lang.Math.floorMod(
            java.lang.Math.addExact(java.lang.Math.multiplyExact(a(i), h), b(i)), Prime)
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (any) ArrayData.toArrayData(out) else null
  }
}

/** All MinHash minima of one row in ONE codegen'd expression: `child` is
  * the row's array of shingle hashes, evaluated once, and the expression
  * keeps `a.length` running minima of pmod(a_i·h + b_i, [[Minhash.Prime]])
  * over it ([[Minhash.signature]]). It is the map-only form of the
  * shingle explode + 64-column `min` aggregation: each row's signature is
  * finished in the task that reads the row, so no exchange carries the
  * shingle stream, and the plan node is O(1) however many permutations
  * there are (the `RpSignatures` precedent). A null or empty `child`
  * gives null, as the explode dropped such a row. */
case class MinhashSignature(child: Expression, a: Array[Long], b: Array[Long])
    extends UnaryExpression {
  require(a.length == b.length, s"MinhashSignature: ${a.length} a's but ${b.length} b's")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<bigint> hashes, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Minhash.signature(input.asInstanceOf[ArrayData], a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", a, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", b, "long[]")
    nullSafeCodeGen(ctx, ev, hs =>
      s"""
         |${ev.value} = graft.plans.Minhash.signature($hs, $aRef, $bRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {
  /** Column-level API: exact token count without materializing the tokens. */
  def token_count(text: Column): Column =
    Shim.column(TokenCount(Shim.expression(text)))

  /** Column-level API: Unicode normalization, default NFC. */
  def normalize_text(text: Column, form: String = "NFC"): Column =
    Shim.column(NormalizeText(Shim.expression(text), form))

  /** Column-level API: the MinHash signature of an array<bigint> of
    * shingle hashes under the permutations (a_i, b_i); see [[MinhashSignature]]. */
  def minhash_signature(hashes: Column, a: Seq[Long], b: Seq[Long]): Column =
    Shim.column(MinhashSignature(Shim.expression(hashes), a.toArray, b.toArray))
}
