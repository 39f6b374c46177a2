package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct 64-bit rolling hashes of every
  * token n-gram of a whitespace-tokenized text — the candidate-key
  * primitive for decontamination and n-gram dedup, where only shingle
  * IDENTITY matters and building gram strings is wasted allocation.
  *
  * One fused JVM loop per row (tokenize → hash each token → rotl/xor
  * n-window combine → sort-dedup), run inside whole-stage codegen via
  * `doGenCode`. The declarative formulation (an n-1-layer zip_with fold
  * over transform(split(...))) evaluates interpreted lambdas per element
  * per layer — measured 3.5 s for an sf0.1 corpus pass at n=13 vs
  * ~0.1 s for this expression.
  *
  * Semantics — for `text` the lower-cased string, the grams are those of
  * `split(trim(text), "\\s+")`, Spark's tokenization, so each hash is the
  * identity of the matching space-joined string gram (the DuckDB
  * oracles build those strings with the same split):
  *  - spaces (U+0020 only, like Spark's `trim`) are stripped at both
  *    ends; every run of ASCII whitespace (Java regex `\s`; multibyte
  *    UTF-8 units never contain ASCII bytes) then ends a token, so a
  *    run at either end of the trimmed text leaves an EMPTY token there
  *    (`"\tabc"` -> ["", "abc"], `"a b\n"` -> ["a", "b", ""]) and the
  *    empty text is one empty token;
  *  - texts with fewer than n tokens yield ONE hash over all tokens;
  *  - the result is distinct (sorted ascending — callers join/explode,
  *    order is irrelevant).
  *
  * Case folding is the caller's job (`lower(col)`), keeping this
  * expression byte-deterministic.
  */
case class TokenNgramHashes(child: Expression, n: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_ngram_hashes needs a string child and n >= 1, " +
          s"got ${child.dataType}, n=$n")

  override def nullSafeEval(input: Any): Any =
    TokenNgramHashes.hashes(input.asInstanceOf[UTF8String], n, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cls = TokenNgramHashes.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$cls.hashes($c, $n, ${seed}L)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : TokenNgramHashes = copy(child = newChild)

  override def prettyName: String = "token_ngram_hashes"
}

object TokenNgramHashes {

  /** splitmix64 finalizer over a byte-polynomial — the per-token hash. */
  private def tokenHash(bytes: Array[Byte], from: Int, until: Int,
      seed: Long): Long = {
    var h = seed
    var i = from
    while (i < until) { h = h * 1000000007L + (bytes(i) & 0xFF); i += 1 }
    h += 0x9E3779B97F4A7C15L
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' ||
      b == '\r'

  /** Distinct rolling n-gram hashes; called from interpreted eval and
    * generated code.
    */
  def hashes(text: UTF8String, n: Int, seed: Long): GenericArrayData = {
    val bytes = text.getBytes
    var from = 0
    var until = bytes.length
    while (from < until && bytes(from) == ' ') from += 1
    while (until > from && bytes(until - 1) == ' ') until -= 1
    // pass 1: token hashes; each whitespace run closes the token before
    // it, and the text's end closes the last (count bounded by len/2+2)
    var nTok = 0
    val tokHashes = new Array[Long]((until - from) / 2 + 2)
    var start = from
    var i = from
    while (i < until) {
      if (isWs(bytes(i))) {
        tokHashes(nTok) = tokenHash(bytes, start, i, seed); nTok += 1
        while (i < until && isWs(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    tokHashes(nTok) = tokenHash(bytes, start, until, seed); nTok += 1
    // pass 2: rotl13/xor n-window combine; < n tokens -> one whole-text gram
    val nGrams = math.max(nTok - n + 1, 1)
    val out = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      var h = tokHashes(g)
      val end = math.min(g + n, nTok)
      var j = g + 1
      while (j < end) {
        h = ((h << 13) | (h >>> 51)) ^ tokHashes(j)
        j += 1
      }
      out(g) = h
      g += 1
    }
    // sort-dedup (no boxing); distinct like array_distinct
    java.util.Arrays.sort(out)
    var uniq = 0
    var p = 0
    while (p < nGrams) {
      if (p == 0 || out(p) != out(p - 1)) { out(uniq) = out(p); uniq += 1 }
      p += 1
    }
    val res = if (uniq == nGrams) out else java.util.Arrays.copyOf(out, uniq)
    new GenericArrayData(res)
  }

  /** Column-level entry point. */
  def token_ngram_hashes(c: Column, n: Int, seed: Long = 42L): Column =
    GraftColumnBridge.column(
      TokenNgramHashes(GraftColumnBridge.expression(c), n, seed))
}
