package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Codegen'd ASCII word tokenizer: exactly equivalent to
  * `regexp_extract_all(lower(s), '[a-z0-9]+', 0)` — the hot inner loop
  * of every text operator (minhash shingles, quality stats, lang-id,
  * repetition filters) — as a single byte scan instead of a Unicode
  * lowercase pass plus an NFA regex walk.
  *
  * Equivalence argument (holds for ALL inputs, not just ASCII corpora):
  * `lower()` maps A-Z to a-z and any non-ASCII letter to a non-ASCII
  * letter, which `[a-z0-9]` never matches; UTF-8 multibyte sequences
  * use only bytes ≥ 0x80, which are separators in the byte scan just as
  * their decoded characters are separators for the regex. So scanning
  * raw UTF-8 bytes for [A-Za-z0-9] runs (lowercasing A-Z in the output)
  * yields the identical token array.
  */
case class AsciiTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects a string column, got $t")
    }

  @inline private def isTok(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      if (isTok(bytes(i))) {
        var j = i
        while (j < n && isTok(bytes(j))) j += 1
        val t = new Array[Byte](j - i)
        var k = i
        while (k < j) {
          val c = bytes(k)
          t(k - i) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
          k += 1
        }
        out += UTF8String.fromBytes(t)
        i = j
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val b = ctx.freshName("b")
      val c = ctx.freshName("c")
      val t = ctx.freshName("t")
      val toks = ctx.freshName("toks")
      // janino: raw ArrayList (no generics), fully-qualified names
      s"""
         |byte[] $bytes = $in.getBytes();
         |int $n = $bytes.length;
         |java.util.ArrayList $toks = new java.util.ArrayList();
         |int $i = 0;
         |while ($i < $n) {
         |  byte $b = $bytes[$i];
         |  if (($b >= 'a' && $b <= 'z') || ($b >= 'A' && $b <= 'Z') || ($b >= '0' && $b <= '9')) {
         |    int $j = $i;
         |    while ($j < $n) {
         |      byte $c = $bytes[$j];
         |      if (!(($c >= 'a' && $c <= 'z') || ($c >= 'A' && $c <= 'Z') || ($c >= '0' && $c <= '9'))) break;
         |      $j++;
         |    }
         |    byte[] $t = new byte[$j - $i];
         |    for (int $k = $i; $k < $j; $k++) {
         |      byte $c = $bytes[$k];
         |      $t[$k - $i] = ($c >= 'A' && $c <= 'Z') ? (byte)($c + 32) : $c;
         |    }
         |    $toks.add(org.apache.spark.unsafe.types.UTF8String.fromBytes($t));
         |    $i = $j;
         |  } else $i++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($toks.toArray());
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** First 8 bytes of md5(input) as a big-endian signed long — ONE digest
  * pass replacing the two `conv(substr(md5(x), …), 16, 10)` string
  * round-trips of the SQL formulation. Value-identical to
  * `(hi32 << 32) | lo32` with hi = hex chars 1-8, lo = 9-16 (hex is the
  * big-endian byte rendering), so the DuckDB oracle mirrors it with
  * exactly that arithmetic and the 64-bit simhash fingerprints are
  * unchanged. */
case class Md5Long(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects a string column, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    Md5Long.digestLong(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.Md5Long.digestLong($in.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

object Md5Long {
  /** One thread's MD5 state: the digest and a reused 16-byte output,
    * so a feature is hashed without allocating. */
  private[plans] final class Scratch {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val out = new Array[Byte](16)

    def update(bytes: Array[Byte]): Unit = md.update(bytes)

    def update(b: Byte): Unit = md.update(b)

    /** Feed a string's bytes in place when they sit in a byte array
      * (every on-heap row and array), copying only otherwise. */
    def update(s: UTF8String): Unit = s.getBaseObject match {
      case a: Array[Byte] =>
        md.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }

    /** The first 8 digest bytes of everything fed since the last call,
      * big-endian; the digest is reset for the next input. */
    def digestLong(): Long = {
      md.digest(out, 0, 16)
      ((out(0) & 0xffL) << 56) | ((out(1) & 0xffL) << 48) | ((out(2) & 0xffL) << 40) |
        ((out(3) & 0xffL) << 32) | ((out(4) & 0xffL) << 24) | ((out(5) & 0xffL) << 16) |
        ((out(6) & 0xffL) << 8) | (out(7) & 0xffL)
    }
  }

  private val pool = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  private[plans] def scratch(): Scratch = pool.get()

  /** Static so generated code can call it (janino-friendly). */
  def digestLong(bytes: Array[Byte]): Long = {
    val s = pool.get()
    s.update(bytes)
    s.digestLong()
  }
}

/** [[AsciiTokens]]' positional twin: the 1-based inclusive BYTE offset
  * range of every `[A-Za-z0-9]+` run, packed `(start << 32) | end` into
  * an `array<bigint>` (a struct array would cost an InternalRow per
  * token; two bit-ops unpack the pair in any downstream SQL lambda).
  * Token i of [[AsciiTokens]] is exactly bytes `start..end` of the raw
  * input — the mapping exact-substring dedup needs to turn token-space
  * spans into byte-offset cut lists (Lee et al., ACL 2022 §3.1 operate
  * on raw bytes). Same single byte scan, same equivalence argument:
  * UTF-8 multibyte bytes are ≥ 0x80, so they terminate runs exactly
  * where the regex does, and for ASCII text byte offsets ARE character
  * offsets (the oracle-facing contract). */
case class AsciiTokenOffsets(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects a string column, got $t")
    }

  @inline private def isTok(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      if (isTok(bytes(i))) {
        var j = i
        while (j < n && isTok(bytes(j))) j += 1
        out += ((i + 1).toLong << 32) | j.toLong // 1-based inclusive [i+1, j]
        i = j
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val c = ctx.freshName("c")
      val offs = ctx.freshName("offs")
      s"""
         |byte[] $bytes = $in.getBytes();
         |int $n = $bytes.length;
         |java.util.ArrayList $offs = new java.util.ArrayList();
         |int $i = 0;
         |while ($i < $n) {
         |  byte $b = $bytes[$i];
         |  if (($b >= 'a' && $b <= 'z') || ($b >= 'A' && $b <= 'Z') || ($b >= '0' && $b <= '9')) {
         |    int $j = $i;
         |    while ($j < $n) {
         |      byte $c = $bytes[$j];
         |      if (!(($c >= 'a' && $c <= 'z') || ($c >= 'A' && $c <= 'Z') || ($c >= '0' && $c <= '9'))) break;
         |      $j++;
         |    }
         |    $offs.add(java.lang.Long.valueOf((((long)($i + 1)) << 32) | (long)$j));
         |    $i = $j;
         |  } else $i++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($offs.toArray());
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** Word n-grams of a token array: n-gram i is tokens i..i+n−1 joined
  * by one space, for i = 1..m−n+1 over m tokens. Value-identical to
  * the lambda text
  * {{{
  * CASE WHEN size(t) >= n
  *   THEN [array_distinct](transform(sequence(1, size(t) - (n - 1)),
  *          i -> concat_ws(' ', element_at(t, i), …, element_at(t, i + n - 1))))
  *   ELSE array() END
  * }}}
  * for every input: fewer than n tokens and a NULL array both give [],
  * a NULL token is skipped as `concat_ws` skips it, and `distinct`
  * keeps each n-gram's first occurrence, as `array_distinct` does. One
  * loop per row, where `transform` (a `CodegenFallback`) evaluated its
  * lambda body as an expression tree per element. */
case class TokenNGrams(child: Expression, n: Int, distinct: Boolean) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects an array<string> column, got $t")
  }

  override def eval(input: InternalRow): Any =
    TokenNGrams.grams(child.eval(input).asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} =
      |  graft.plans.TokenNGrams.grams(${c.isNull} ? null : ${c.value}, $n, $distinct);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenNGrams {
  /** Static so generated code can call it; a NULL array gives []. */
  def grams(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val m = if (toks == null) 0 else toks.numElements()
    val k = m - n + 1
    if (k <= 0) return new GenericArrayData(Array.empty[Any])
    val words = Array.tabulate(m)(i => if (toks.isNullAt(i)) null else toks.getUTF8String(i))
    val seen = if (distinct) new java.util.HashSet[UTF8String](2 * k) else null
    val out = new Array[Any](k)
    var size = 0
    var i = 0
    while (i < k) {
      val g = join(words, i, n)
      if (seen == null || seen.add(g)) { out(size) = g; size += 1 }
      i += 1
    }
    new GenericArrayData(if (size == k) out else out.take(size))
  }

  /** `concat_ws(' ', words(from), …, words(from + n − 1))`: one
    * allocation, NULL words skipped. */
  private def join(words: Array[UTF8String], from: Int, n: Int): UTF8String = {
    var len = -1 // one separator fewer than the non-NULL words
    var j = from
    while (j < from + n) {
      if (words(j) != null) len += words(j).numBytes + 1
      j += 1
    }
    if (len <= 0) return UTF8String.EMPTY_UTF8
    val buf = new Array[Byte](len)
    var pos = -1
    j = from
    while (j < from + n) {
      val w = words(j)
      if (w != null) {
        if (pos >= 0) buf(pos) = ' '
        w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos + 1)
        pos += w.numBytes + 1
      }
      j += 1
    }
    UTF8String.fromBytes(buf)
  }
}

/** DSIR's hashed features of a token array: every token, then every
  * adjacent pair `a b`, each mapped to the bucket
  * `((first 8 md5 bytes, big-endian) >>> 4) % buckets`. The shift keeps
  * the digest's top 60 bits, which are its first 15 hex digits, so the
  * value is the oracle's textual hash
  * `cast(conv(substr(md5(f), 1, 15), 16, 10) as bigint) % buckets`.
  * A pair's bytes go straight into the digest (`a`, `' '`, `b`), so no
  * joined string is built. m tokens give m unigrams and max(m − 1, 0)
  * bigrams; a NULL array is NULL, and a NULL token makes its unigram
  * and both pairs through it NULL, as `md5`/`concat` of NULL are. */
case class UniBigramBuckets(child: Expression, buckets: Int) extends UnaryExpression {
  require(buckets > 0, s"buckets must be > 0, got $buckets")

  private def tokensNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = tokensNullable)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects an array<string> column, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    UniBigramBuckets.bucketsOf(input.asInstanceOf[ArrayData], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.UniBigramBuckets.bucketsOf($in, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UniBigramBuckets {
  /** Static so generated code can call it. */
  def bucketsOf(toks: ArrayData, b: Int): ArrayData = {
    val m = toks.numElements()
    val words = Array.tabulate(m)(i => if (toks.isNullAt(i)) null else toks.getUTF8String(i))
    val out = new Array[Long](m + math.max(m - 1, 0))
    val isNull = if (words.contains(null)) new Array[Boolean](out.length) else null
    val md = Md5Long.scratch()
    var i = 0
    while (i < m) {
      if (words(i) == null) isNull(i) = true
      else {
        md.update(words(i))
        out(i) = (md.digestLong() >>> 4) % b
      }
      i += 1
    }
    i = 0
    while (i < m - 1) {
      if (words(i) == null || words(i + 1) == null) isNull(m + i) = true
      else {
        md.update(words(i)); md.update(' '.toByte); md.update(words(i + 1))
        out(m + i) = (md.digestLong() >>> 4) % b
      }
      i += 1
    }
    if (isNull == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(out.indices.map(j => if (isNull(j)) null else out(j)).toArray[Any])
  }
}

/** The upper triangle of a posting list: for a sorted
  * `array<struct<id, c: bigint>>`, one `struct(id_a, id_b, p)` per
  * element pair x before y, with p = x.c · y.c. Value-identical to
  * {{{
  * flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)),
  *   y -> struct(x.id AS id_a, y.id AS id_b, x.c * y.c AS p))))
  * }}}
  * (a NULL list is NULL, a NULL id or count carries through, and an
  * overflowing product raises as ANSI `*` does) in one double loop
  * where those two `transform`s evaluate their lambdas per pair. */
case class PostingPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case ArrayType(StructType(Array(id, c)), _) => ArrayType(StructType(Seq(
      StructField("id_a", id.dataType, id.nullable),
      StructField("id_b", id.dataType, id.nullable),
      StructField("p", LongType, c.nullable))), containsNull = false)
    case t => t
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(_, StructField(_, LongType, _, _))), false) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects an array<struct<id, bigint>> column without NULL elements, got $t")
  }

  @transient private lazy val idType: DataType = child.dataType match {
    case ArrayType(StructType(Array(id, _)), _) => id.dataType
  }

  private def id(r: InternalRow): Any =
    if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, idType))

  def pairs(ps: ArrayData): ArrayData = {
    val k = ps.numElements()
    val rows = Array.tabulate(k)(ps.getStruct(_, 2))
    val out = new Array[Any](Math.toIntExact(k.toLong * (k - 1) / 2))
    var o = 0
    var i = 0
    while (i < k) {
      val x = rows(i)
      var j = i + 1
      while (j < k) {
        val y = rows(j)
        val p = if (x.isNullAt(1) || y.isNullAt(1)) null else Math.multiplyExact(x.getLong(1), y.getLong(1))
        out(o) = new GenericInternalRow(Array[Any](id(x), id(y), p))
        o += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pairsExpr", this, classOf[PostingPairs].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.pairs($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {
  def asciiTokens(s: Column): Column =
    ColumnBridge.column(AsciiTokens(ColumnBridge.expression(s)))

  def asciiTokenOffsets(s: Column): Column =
    ColumnBridge.column(AsciiTokenOffsets(ColumnBridge.expression(s)))

  def md5Long(s: Column): Column =
    ColumnBridge.column(Md5Long(ColumnBridge.expression(s)))

  def tokenNGrams(tokens: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(TokenNGrams(ColumnBridge.expression(tokens), n, distinct))

  def uniBigramBuckets(tokens: Column, buckets: Int): Column =
    ColumnBridge.column(UniBigramBuckets(ColumnBridge.expression(tokens), buckets))

  def postingPairs(postings: Column): Column =
    ColumnBridge.column(PostingPairs(ColumnBridge.expression(postings)))

  /** SQL registration: ascii_tokens(s), md5_long(s). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ascii_tokens", exprs => AsciiTokens(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_long", exprs => Md5Long(exprs.head), "built-in")
  }
}
