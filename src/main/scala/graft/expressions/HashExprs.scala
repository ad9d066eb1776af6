package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hash-heavy dedup operators.
  *
  * The declarative forms in [[graft.functions.TextFns]] are built from
  * higher-order functions (`transform`/`aggregate`), which Catalyst
  * evaluates with per-element lambda-variable binding — fine for small
  * arrays, but a MinHash signature touches k x |shingles| elements and
  * the interpreter overhead dominates the md5 itself (measured: the
  * whole documents table minhash ran minutes single-threaded at sf0.1).
  * These expressions compute the IDENTICAL values (same salted-md5
  * family, same lexicographic-min, same hex case) in tight loops with
  * one reused MessageDigest per task. Oracles are unchanged.
  *
  * Codegen: [[GraftUnaryDelegateCodegen]]/[[GraftBinaryDelegateCodegen]]
  * — each expression stays INSIDE
  * whole-stage codegen by emitting a direct call on its
  * already-evaluated child values (plain CodegenFallback would instead
  * materialize a full InternalRow per call and fence off fusion). The
  * loop bodies themselves are monolithic Java either way.
  */
object HashExprs {

  private val hexDigits = "0123456789abcdef".toCharArray

  private[expressions] def md5Hex(digest: MessageDigest, bytes: Array[Byte]): Array[Byte] = {
    digest.reset()
    toHex(digest.digest(bytes))
  }

  private def toHex(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    out
  }

  /** Java cast/unbox for a `compute` result of the given Catalyst type. */
  private[expressions] def javaCast(dt: DataType, obj: String): String = dt match {
    case DoubleType  => s"((java.lang.Double)$obj).doubleValue()"
    case IntegerType => s"((java.lang.Integer)$obj).intValue()"
    case LongType    => s"((java.lang.Long)$obj).longValue()"
    case StringType  => s"(org.apache.spark.unsafe.types.UTF8String)$obj"
    case _: ArrayType => s"(org.apache.spark.sql.catalyst.util.ArrayData)$obj"
    case _: StructType => s"(org.apache.spark.sql.catalyst.InternalRow)$obj"
    case BooleanType => s"((java.lang.Boolean)$obj).booleanValue()"
    case other => throw new IllegalArgumentException(s"no cast for $other")
  }
}

/** Whole-stage-codegen participation by delegation: the generated stage
  * calls `compute` on the plan-serialized expression instance with the
  * ALREADY-EVALUATED child value — input null checks stay in generated
  * code and no InternalRow is materialized (plain CodegenFallback
  * rebuilds a row per call and fences the stage). A null RESULT on
  * non-null input (e.g. Jaccard of two empty shingle sets) sets isNull,
  * so implementors returning null must keep `nullable=true`.
  */
trait GraftUnaryDelegateCodegen extends UnaryExpression {
  /** Public bridge to the interpreted kernel for generated code. */
  def compute(input: Any): Any = nullSafeEval(input)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this,
      classOf[GraftUnaryDelegateCodegen].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("graftRes")
      // When nullable=false Spark never declares ev.isNull, so assigning
      // it is a Janino compile error that silently drops the WHOLE
      // projection to interpreted mode. Non-nullable contract violations
      // must throw instead.
      val nullBranch =
        if (nullable) s"if ($tmp == null) { ${ev.isNull} = true; }"
        else s"""if ($tmp == null) { throw new IllegalStateException(
           "null result from non-nullable graft expression"); }""".stripMargin
      s"""
         |Object $tmp = $ref.compute($c);
         |$nullBranch
         |else { ${ev.value} = ${HashExprs.javaCast(dataType, tmp)}; }
       """.stripMargin
    })
  }
}

/** Binary twin of [[GraftUnaryDelegateCodegen]]. */
trait GraftBinaryDelegateCodegen extends BinaryExpression {
  def compute(l: Any, r: Any): Any = nullSafeEval(l, r)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this,
      classOf[GraftBinaryDelegateCodegen].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("graftRes")
      // see GraftUnaryDelegateCodegen: ev.isNull is undeclared when
      // nullable=false — assigning it would kill codegen for the stage
      val nullBranch =
        if (nullable) s"if ($tmp == null) { ${ev.isNull} = true; }"
        else s"""if ($tmp == null) { throw new IllegalStateException(
           "null result from non-nullable graft expression"); }""".stripMargin
      s"""
         |Object $tmp = $ref.compute($a, $b);
         |$nullBranch
         |else { ${ev.value} = ${HashExprs.javaCast(dataType, tmp)}; }
       """.stripMargin
    })
  }
}

/** `minhash_sig(shingles, k)`: array of k longs, element i =
  * min over shingles of `(A_i * x + B_i) mod (2^31 - 1)`, where `x` is
  * the first unsigned 32-bit word of md5(shingle) and `A_i`/`B_i` are
  * fixed per-position coefficients derived from md5("perm:i") — ONE
  * digest per shingle and k multiply-adds, vs the salted-rehash
  * family's k digests per shingle (the dominant cost of LSH candidate
  * generation at scale). Independent coefficients PER POSITION are what
  * keep band hashes decorrelated (the same construction Spark MLlib's
  * MinHashLSH uses); a family linear in `i` itself (h_i = a + i*b) is
  * smooth across positions and was measured to inflate the sf10
  * candidate set ~7x. A_i < 2^30 and x < 2^32 keep every intermediate
  * below 2^62, so the identical formula runs in DuckDB BIGINT
  * arithmetic (hex-substr casts of the same digests) without overflow.
  * Value-identical to TextFns.minhashSignature's declarative form
  * (conv-on-hex), pinned by NativeExprParitySpec. Empty input yields
  * null elements, matching `array_min([])` and DuckDB `list_min([])`.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable

  // one digest per thread: the same expression instance can be evaluated
  // concurrently by several local-mode task threads
  @transient private lazy val digestTL =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  // per-position permutation coefficients — MUST match the declarative
  // twin and the DuckDB oracles: md5("perm:i") hex chars 1-8 (mod 2^30,
  // +1 so A_i != 0) and 9-16
  @transient private lazy val permA: Array[Long] =
    Array.tabulate(k)(i => MinHashSig.word(s"perm:$i", 0) % MinHashSig.AMod + 1L)
  @transient private lazy val permB: Array[Long] =
    Array.tabulate(k)(i => MinHashSig.word(s"perm:$i", 1))

  override def nullSafeEval(input: Any): Any = {
    val digest = digestTL.get()
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // one md5 per shingle: x = bytes 0-3 unsigned BE (= hex chars 1-8)
    val xs = new Array[Long](n)
    var j = 0
    while (j < n) {
      digest.reset()
      val d = digest.digest(arr.getUTF8String(j).getBytes)
      xs(j) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8)  |  (d(3) & 0xffL)
      j += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      if (n == 0) out(i) = null
      else {
        val a = permA(i)
        val b = permB(i)
        var min = Long.MaxValue
        j = 0
        while (j < n) {
          val h = (a * xs(j) + b) % MinHashSig.Prime
          if (h < min) min = h
          j += 1
        }
        out(i) = min
      }
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  /** Modulus of the permutation family (2^31 - 1, prime). */
  val Prime: Long = 2147483647L
  /** A_i range bound: A_i <= 2^30 keeps A_i * x < 2^62 for x < 2^32. */
  val AMod: Long = 1073741824L

  /** Unsigned 32-bit word `w` (0 or 1) of md5(text) — hex chars 1-8 /
    * 9-16, the derivation the DuckDB oracles restate with
    * `('0x' || substr(md5(t), 1+8*w, 8))::BIGINT`.
    */
  private[expressions] def word(text: String, w: Int): Long = {
    val d = MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    val o = 4 * w
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
  }
}

/** `simhash_bits(words, bits)`: '0'/'1' string; bit j set iff
  * sum over words of (+1 if hex digit j of md5(word) >= '8' else -1)
  * is positive. One md5 per word (the declarative form pays one per
  * word PER BIT). Value-identical to TextFns.simhashBits.
  */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(bits >= 1 && bits <= 32)
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  @transient private lazy val digestTL =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val digest = digestTL.get()
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](bits)
    var j = 0
    while (j < arr.numElements()) {
      val h = HashExprs.md5Hex(digest, arr.getUTF8String(j).getBytes)
      var b = 0
      while (b < bits) {
        // hex chars: '0'-'9','a'-'f'; ascii >= '8' == high nibble bit
        if ((h(b) & 0xff) >= '8') counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    val out = new Array[Byte](bits)
    var b = 0
    while (b < bits) { out(b) = if (counts(b) > 0) '1' else '0'; b += 1 }
    UTF8String.fromBytes(out)
  }
  override protected def withNewChildInternal(c: Expression): SimHashBits = copy(child = c)
  override def prettyName: String = "simhash_bits"
}

/** `word_shingles(text, n)`: lowercase, tokenize on non-[a-z0-9] runs,
  * emit word n-gram shingles joined by single spaces; < n words ->
  * one shingle of all words joined. Value-identical to the declarative
  * chain `shingles(tokens(text), n)` (split-regex `[^a-z0-9]+` + filter
  * empties + slice/concat_ws), fused into one pass — the declarative
  * form allocates a slice array and interpreted concat per shingle.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val lower = input.asInstanceOf[UTF8String].toLowerCase.toString
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    val len = lower.length
    var i = 0
    while (i < len) {
      while (i < len && !isTok(lower.charAt(i))) i += 1
      val start = i
      while (i < len && isTok(lower.charAt(i))) i += 1
      if (i > start) words += lower.substring(start, i)
    }
    val out: Array[Any] =
      if (words.length < n) Array(UTF8String.fromString(words.mkString(" ")))
      else Array.tabulate(words.length - n + 1) { j =>
        val sb = new java.lang.StringBuilder()
        var t = 0
        while (t < n) {
          if (t > 0) sb.append(' ')
          sb.append(words(j + t)); t += 1
        }
        UTF8String.fromString(sb.toString): Any
      }
    new GenericArrayData(out)
  }
  @inline private def isTok(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** `word_chunks(text, n, hashed)`: tokenize like [[WordShingles]]
  * (lowercase, [a-z0-9]+ runs), group into NON-overlapping n-word
  * chunks joined by " " (last chunk short), and return the chunk
  * texts — or their lowercase-hex md5s when `hashed` (tokenize +
  * chunk + digest in one pass, no intermediate arrays). Zero tokens
  * give an EMPTY array: the same guard the declarative t15/t22 chains
  * carry against `sequence(0, -1)` minting a phantom md5("") chunk.
  *
  * Why native: the declarative form
  * `transform(sequence(0, ceil(n_words/8)-1), i ->
  * md5(array_join(slice(words, i*8+1, 8), " ")))` is an interpreted
  * lambda allocating a slice + join per chunk — with t08's kernel
  * swap it was the remaining interpreted hot path in the two
  * chunk-shaped queries (t15 22 s, t22 17 s at sf1).
  */
case class WordChunks(child: Expression, n: Int, hashed: Boolean)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val lower = input.asInstanceOf[UTF8String].toLowerCase.toString
    val len = lower.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val md = if (hashed) MessageDigest.getInstance("MD5") else null
    val sb = new java.lang.StringBuilder()
    var i = 0
    var words = 0
    def flush(): Unit = {
      if (words > 0) {
        val chunk =
          if (!hashed) sb.toString
          else {
            md.reset()
            val d = md.digest(sb.toString
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val hex = "0123456789abcdef"
            val h = new java.lang.StringBuilder(32)
            var b = 0
            while (b < 16) {
              h.append(hex.charAt((d(b) >> 4) & 0xf))
                .append(hex.charAt(d(b) & 0xf))
              b += 1
            }
            h.toString
          }
        out += UTF8String.fromString(chunk)
        sb.setLength(0); words = 0
      }
    }
    while (i < len) {
      while (i < len && !isTok(lower.charAt(i))) i += 1
      val start = i
      while (i < len && isTok(lower.charAt(i))) i += 1
      if (i > start) {
        if (words > 0) sb.append(' ')
        sb.append(lower, start, i)
        words += 1
        if (words == n) flush()
      }
    }
    flush()
    new GenericArrayData(out.toArray)
  }
  @inline private def isTok(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
  override protected def withNewChildInternal(c: Expression): WordChunks =
    copy(child = c)
  override def prettyName: String = "word_chunks"
}

/** `word_stats(text, stop)`: the four per-document token statistics
  * every Gopher-style quality gate needs — `n_tok` (token count),
  * `max_c` (highest single-token multiplicity — the repetition
  * signal), `len_sum` (summed token lengths, for mean token length)
  * and `stop_hits` (occurrences of the given stopword list) — as ONE
  * struct from ONE tokenization pass. Tokenization is exactly
  * [[WordShingles]]'/TextFns.tokens' rule (lowercase, [a-z0-9]+
  * runs). Zero tokens return null: a null/empty document produces no
  * stats row, mirroring the aggregate form where no exploded token
  * rows means no group.
  *
  * Why native: the aggregate restatement (explode -> groupBy(doc, w)
  * -> groupBy(doc)) shuffles every TOKEN of the corpus twice and then
  * needs a text-carrying join to re-attach the verdict to the
  * document — at the sf10 probe scale that chain was 23 s inside the
  * composed pipeline where the per-row form runs in the scan
  * projection with ZERO shuffle and the text column never moves. At
  * 100 TB the difference is two full-corpus token shuffles plus a
  * corpus-wide join versus none.
  */
case class WordStats(child: Expression, stop: Seq[String])
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("max_c", LongType, nullable = false),
    StructField("len_sum", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))
  override def nullable: Boolean = true

  @transient private lazy val kernel = new WordStats.Kernel(stop)

  override def nullSafeEval(input: Any): Any = {
    val out = kernel.compute(input.asInstanceOf[UTF8String])
    if (out == null) null
    else new GenericInternalRow(Array[Any](out(0), out(1), out(2), out(3)))
  }
  override protected def withNewChildInternal(c: Expression): WordStats =
    copy(child = c)
  override def prettyName: String = "word_stats"
}

/** `gopher_keep(text, stop, ...)`: the Gopher-style quality VERDICT as
  * one boolean — keep iff `n_tok >= minTok`, mean token length within
  * `[minMeanLen, maxMeanLen]`, `max_c / n_tok <= maxRepFrac`, and
  * `stop_hits >= minStopHits` (stats per [[WordStats]], same kernel).
  * Null/zero-token text is dropped (null verdict).
  *
  * Why a fused verdict exists alongside [[WordStats]]: a filter on N
  * fields of an inlined struct re-evaluates the producing expression
  * once PER REFERENCE after CollapseProject/predicate pushdown —
  * measured 3x the stage wall at the sf10 probe. The verdict form is
  * one evaluation per row and pushes to the scan as a plain boolean
  * predicate.
  */
case class GopherKeep(child: Expression, stop: Seq[String],
                      minTok: Long, minMeanLen: Double, maxMeanLen: Double,
                      maxRepFrac: Double, minStopHits: Long)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  @transient private lazy val kernel = new WordStats.Kernel(stop)

  override def nullSafeEval(input: Any): Any = {
    val out = kernel.compute(input.asInstanceOf[UTF8String])
    if (out == null) null
    else {
      val nTok = out(0).toDouble
      val meanLen = out(2) / nTok
      java.lang.Boolean.valueOf(
        out(0) >= minTok &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        out(1) / nTok <= maxRepFrac &&
        out(3) >= minStopHits)
    }
  }
  override protected def withNewChildInternal(c: Expression): GopherKeep =
    copy(child = c)
  override def prettyName: String = "gopher_keep"
}

object WordStats {

  /** The shared one-pass token-statistics kernel behind [[WordStats]]
    * and [[GopherKeep]]. `compute` returns null for zero-token input,
    * else a REUSED 4-long array (n_tok, max_c, len_sum, stop_hits) —
    * callers must copy values out before the next row.
    *
    * Tokens are [a-z0-9] runs — pure ASCII. After toLowerCase, every
    * byte of a multibyte UTF-8 char has the high bit set, so a
    * byte-wise scan splits EXACTLY like the codepoint-wise regex (and
    * token byte length == char length). Stop words pack into longs
    * (7 ASCII bytes + a length tag); longer ones fall into a string
    * residue checked only when a token is that long. Per-task scratch
    * keeps the count table allocation-free per token; ThreadLocal
    * keeps it correct even if a plan instance is shared across
    * threads.
    */
  private[expressions] final class Kernel(stop: Seq[String]) extends Serializable {
    private val stopPacked: Array[Long] =
      stop.filter(_.length <= 7).map(packWord).toArray
    private val stopLong: Set[String] = stop.filter(_.length > 7).toSet
    private def packWord(w: String): Long = {
      var v = 0L
      var i = 0
      while (i < w.length) { v = (v << 8) | (w.charAt(i).toLong & 0xff); i += 1 }
      v | (w.length.toLong << 56)
    }
    @transient private lazy val scratch =
      new ThreadLocal[WordStats.Scratch]() {
        override def initialValue() = new WordStats.Scratch()
      }
    @transient private lazy val outTL =
      new ThreadLocal[Array[Long]]() {
        override def initialValue() = new Array[Long](4)
      }

    def compute(input: UTF8String): Array[Long] = {
      val bytes = input.toLowerCase.getBytes
      val len = bytes.length
      val tab = scratch.get()
      tab.reset(len)
      var nTok = 0L
      var lenSum = 0L
      var stopHits = 0L
      var maxC = 0L
      var i = 0
      while (i < len) {
        while (i < len && !isTok(bytes(i))) i += 1
        val start = i
        while (i < len && isTok(bytes(i))) i += 1
        val wl = i - start
        if (wl > 0) {
          nTok += 1L
          lenSum += wl.toLong
          if (wl <= 7) {
            var packed = 0L
            var j = start
            while (j < i) { packed = (packed << 8) | (bytes(j).toLong & 0xff); j += 1 }
            packed |= wl.toLong << 56
            var s = 0
            var isStop = false
            while (s < stopPacked.length && !isStop) {
              if (stopPacked(s) == packed) isStop = true
              s += 1
            }
            if (isStop) stopHits += 1L
          } else if (stopLong.nonEmpty &&
              stopLong.contains(new String(bytes, start, wl,
                java.nio.charset.StandardCharsets.US_ASCII))) {
            stopHits += 1L
          }
          val c = tab.increment(bytes, start, wl)
          if (c > maxC) maxC = c.toLong
        }
      }
      if (nTok == 0L) null
      else {
        val out = outTL.get()
        out(0) = nTok; out(1) = maxC; out(2) = lenSum; out(3) = stopHits
        out
      }
    }
    @inline private def isTok(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
  }

  /** Open-addressing (token byte-span -> count) table over the current
    * document's own byte array: keys are (offset, len) into it, so a
    * document's count pass allocates nothing per token. Reused across
    * rows (reset is O(live entries) via a touched-slot journal, not
    * O(capacity)).
    */
  private[expressions] final class Scratch {
    private var cap = 1 << 10 // power of two
    private var off = new Array[Int](cap)
    private var len = new Array[Int](cap)
    private var cnt = new Array[Int](cap)
    private var used = new Array[Int](cap) // journal of touched slots
    private var nUsed = 0

    def reset(docLenHint: Int): Unit = {
      var i = 0
      while (i < nUsed) { cnt(used(i)) = 0; i += 1 }
      nUsed = 0
      // pre-size off the document length: distinct tokens <= docLen/2
      // (a token plus its separator is >= 2 bytes), so cap >= docLen
      // skips the first grow() rehashes on typical multi-KB documents.
      // Bounded at 2^16 — past that, repetitive text makes docLen a
      // bad predictor of DISTINCT tokens and grow()'s doubling is
      // amortized O(distinct) anyway, so a bigger hint would only pin
      // per-thread memory. The table is empty here, so resizing is a
      // plain reallocation, never a rehash.
      val hint = math.min(docLenHint, 1 << 16)
      if (hint > cap) {
        var target = cap
        while (target < hint) target <<= 1
        cap = target
        off = new Array[Int](cap); len = new Array[Int](cap)
        cnt = new Array[Int](cap); used = new Array[Int](cap)
      }
    }

    private def hash(b: Array[Byte], o: Int, l: Int): Int = {
      var h = 0x811c9dc5
      var i = o
      val end = o + l
      while (i < end) { h = (h ^ b(i)) * 0x01000193; i += 1 }
      h
    }

    private def eq(b: Array[Byte], o1: Int, o2: Int, l: Int): Boolean = {
      var i = 0
      while (i < l) { if (b(o1 + i) != b(o2 + i)) return false; i += 1 }
      true
    }

    /** Add one occurrence of b[o, o+l); returns the new count. */
    def increment(b: Array[Byte], o: Int, l: Int): Int = {
      if (nUsed * 2 >= cap) grow(b)
      val mask = cap - 1
      var slot = hash(b, o, l) & mask
      while (true) {
        if (cnt(slot) == 0) {
          off(slot) = o; len(slot) = l; cnt(slot) = 1
          used(nUsed) = slot; nUsed += 1
          return 1
        } else if (len(slot) == l && eq(b, off(slot), o, l)) {
          cnt(slot) += 1
          return cnt(slot)
        } else slot = (slot + 1) & mask
      }
      0 // unreachable
    }

    private def grow(b: Array[Byte]): Unit = {
      val oldOff = off; val oldLen = len; val oldCnt = cnt
      val oldUsed = used; val oldN = nUsed
      cap <<= 1
      off = new Array[Int](cap); len = new Array[Int](cap)
      cnt = new Array[Int](cap); used = new Array[Int](cap)
      nUsed = 0
      val mask = cap - 1
      var i = 0
      while (i < oldN) {
        val s = oldUsed(i)
        var slot = hash(b, oldOff(s), oldLen(s)) & mask
        while (cnt(slot) != 0) slot = (slot + 1) & mask
        off(slot) = oldOff(s); len(slot) = oldLen(s); cnt(slot) = oldCnt(s)
        used(nUsed) = slot; nUsed += 1
        i += 1
      }
    }
  }
}

/** `winnow_fp(norm, k, gram)`: the k lexicographically-smallest md5
  * hex digests over all `gram`-char windows of the (already
  * normalized) string, joined with "," — one pass, a k-element
  * insertion set over RAW 16-byte digests (unsigned byte order ==
  * fixed-width lowercase-hex order, so the comparison is exactly the
  * declarative `array_sort` on hex strings).
  *
  * Why native: the declarative t08 chain
  * `array_join(slice(array_sort(transform(sequence(1, len-7),
  * i => md5(substr(i, 8)))), 1, 3), ",")` materializes one 32-char hex
  * string per CHARACTER of the document and then sorts that array —
  * the per-row transform is interpreted, and at sf1 t08 was the
  * suite's worst query (41 s) once full-row materialization stopped
  * hiding projection cost. Here: no array, no sort, no hex until the
  * k survivors; only the k=3 digests are ever kept.
  *
  * Window semantics mirror the declarative form exactly: positions
  * 1..max(len-gram+1, 1), the tail window truncated (len < gram gives
  * ONE short window; len == 0 gives md5("")). ASCII fast path works on
  * the UTF8String bytes in place (post-normalizeText input is ASCII);
  * multibyte input falls back to CODEPOINT-indexed substrings —
  * windows count codepoints exactly as `substr` slices UTF-8 chars,
  * including supplementary-plane input where java.lang.String's UTF-16
  * units would disagree.
  */
case class WinnowFp(child: Expression, k: Int, gram: Int)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(k >= 1 && gram >= 1)
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val md = MessageDigest.getInstance("MD5")
    val best = new Array[Array[Byte]](k)
    var nBest = 0
    def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < 16) {
        val x = (a(i) & 0xff) - (b(i) & 0xff)
        if (x != 0) return x
        i += 1
      }
      0
    }
    def offer(d: Array[Byte]): Unit = {
      var j =
        if (nBest < k) { best(nBest) = d; nBest += 1; nBest - 1 }
        else if (cmp(d, best(k - 1)) < 0) { best(k - 1) = d; k - 1 }
        else return
      while (j > 0 && cmp(best(j), best(j - 1)) < 0) {
        val t = best(j); best(j) = best(j - 1); best(j - 1) = t; j -= 1
      }
    }
    val nb = u.numBytes
    if (u.numChars == nb) {
      val bytes = u.getBytes
      val m = math.max(nb - (gram - 1), 1)
      var i = 0
      while (i < m) {
        md.reset()
        md.update(bytes, i, math.min(gram, nb - i))
        offer(md.digest())
        i += 1
      }
    } else {
      // windows count CODEPOINTS, matching substr (which slices UTF-8
      // chars): java.lang.String length/substring count UTF-16 units,
      // so supplementary-plane input needs the offset table below —
      // cpOff(i) is the UTF-16 offset of codepoint i, cpOff(lenCp) the
      // string end
      val s = u.toString
      val lenCp = s.codePointCount(0, s.length)
      val cpOff = new Array[Int](lenCp + 1)
      var ci = 0; var off = 0
      while (ci < lenCp) {
        cpOff(ci) = off
        off += Character.charCount(s.codePointAt(off))
        ci += 1
      }
      cpOff(lenCp) = s.length
      val m = math.max(lenCp - (gram - 1), 1)
      var i = 0
      while (i < m) {
        md.reset()
        offer(md.digest(
          s.substring(cpOff(i), cpOff(math.min(i + gram, lenCp)))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        i += 1
      }
    }
    val hex = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(nBest * 33)
    var j = 0
    while (j < nBest) {
      if (j > 0) sb.append(',')
      val d = best(j)
      var b = 0
      while (b < 16) {
        sb.append(hex.charAt((d(b) >> 4) & 0xf)).append(hex.charAt(d(b) & 0xf))
        b += 1
      }
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }
  override protected def withNewChildInternal(c: Expression): WinnowFp =
    copy(child = c)
  override def prettyName: String = "winnow_fp"
}

/** `cosine_sim(a, b)` over two `array<float>` columns: widens each
  * element to double and folds dot/norms strictly left-to-right in ONE
  * pass — bit-identical to the declarative
  * dot(a,b)/(norm(a)*norm(b)) chain in [[graft.functions.VecFns]],
  * which traverses the arrays five times through interpreted lambdas.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryDelegateCodegen {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    CosineSim.fold(a.toFloatArray(), 0, a.numElements(), b.toFloatArray(), 0, b.numElements())
  }
  /** True inlined codegen (not the delegate): the kNN families score
    * |corpus| x nprobe rows through this kernel, so the per-row virtual
    * call + boxed Double of the delegate path are worth eliminating.
    * The generated loop is operation-for-operation [[CosineSim.fold]]
    * (same fold order, same trailing-norm handling) — parity is
    * pinned CODEGEN_ONLY in NativeExprParitySpec.
    */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |for (int $j = $n; $j < $a.numElements(); $j++) {
         |  double $x = (double) $a.getFloat($j); $na += $x * $x;
         |}
         |for (int $k = $n; $k < $b.numElements(); $k++) {
         |  double $y = (double) $b.getFloat($k); $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

object CosineSim {
  /** The cosine of `a(aOff until aOff + aLen)` and
    * `b(bOff until bOff + bLen)`: each element widened to double, dot
    * and norms folded strictly left to right over the common prefix,
    * then the trailing elements of the longer side into its norm (the
    * declarative norms run over FULL arrays, while `zip_with` pads the
    * dot with nulls that it ignores). The interpreted kernel, and the
    * driver-resident sketch search's ([[graft.operators.AnnIndex]]), so
    * both score bit-identically with the generated loop.
    */
  def fold(a: Array[Float], aOff: Int, aLen: Int,
           b: Array[Float], bOff: Int, bLen: Int): Double = {
    val n = math.min(aLen, bLen)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(aOff + i).toDouble
      val y = b(bOff + i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    var j = n
    while (j < aLen) { val x = a(aOff + j).toDouble; na += x * x; j += 1 }
    j = n
    while (j < bLen) { val y = b(bOff + j).toDouble; nb += y * y; j += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `dot_product(a, b)`: the dot-accumulation half of [[CosineSim]],
  * for pair-scoring plans that hoist the per-row norms out of the pair
  * loop ([[VecNorm]]). The fold is operation-for-operation CosineSim's
  * dot term (ascending index over the common prefix, double
  * accumulation), and IEEE addition of the dot terms is independent of
  * the interleaved norm accumulations there, so
  * `dot_product(a,b) / (vec_norm(a) * vec_norm(b))` is BIT-IDENTICAL
  * to `cosine_sim(a,b)` — pinned by NativeExprParitySpec. Worth it
  * when pairs >> rows: the per-pair kernel drops from 6 to 2 flops per
  * element plus both trailing-norm loops.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryDelegateCodegen {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }
  /** Inlined codegen (not the delegate): this kernel runs once per
    * candidate PAIR — see CosineSim.doGenCode for why the virtual call
    * is worth eliminating on pair-scoring paths. On the (universal in
    * practice) UnsafeArrayData layout it goes one step further and
    * reads the packed float region through Platform directly: the
    * interface loop pays ~2n virtual `getFloat` dispatches per pair,
    * which at quadratic pair counts dominates the arithmetic itself.
    * Same memory reads in the same ascending order — `getFloat(i)` IS
    * `Platform.getFloat(base, elemOff + 4i)` (null bits unchecked in
    * both, exactly like CosineSim) — so the result is bit-identical.
    */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val ua = ctx.freshName("ua"); val ub = ctx.freshName("ub")
      val ao = ctx.freshName("ao"); val bo = ctx.freshName("bo")
      val ap = ctx.freshName("ap"); val bp = ctx.freshName("bp")
      val UAD = "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData"
      val PLT = "org.apache.spark.unsafe.Platform"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |if ($a instanceof $UAD && $b instanceof $UAD) {
         |  $UAD $ua = ($UAD) $a;
         |  $UAD $ub = ($UAD) $b;
         |  Object $ao = $ua.getBaseObject();
         |  Object $bo = $ub.getBaseObject();
         |  long $ap = $ua.getBaseOffset() +
         |    $UAD.calculateHeaderPortionInBytes($ua.numElements());
         |  long $bp = $ub.getBaseOffset() +
         |    $UAD.calculateHeaderPortionInBytes($ub.numElements());
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $PLT.getFloat($ao, $ap + (((long) $i) << 2)) *
         |            (double) $PLT.getFloat($bo, $bp + (((long) $i) << 2));
         |  }
         |} else {
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += (double) $a.getFloat($j) * (double) $b.getFloat($j);
         |  }
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** `vec_norm(v)`: sqrt of the sum of squares over the FULL array —
  * exactly [[CosineSim]]'s na/nb fold. CosineSim accumulates each norm
  * in ascending index order (common prefix in the main loop, trailing
  * elements after), which for a single array is one ascending pass, so
  * the partial sums — and the sqrt — are IEEE-identical to this loop.
  * Computed once per ROW, so the delegate-codegen path is fine.
  */
case class VecNorm(child: Expression)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var na = 0.0
    var i = 0
    while (i < a.numElements()) {
      val x = a.getFloat(i).toDouble
      na += x * x
      i += 1
    }
    math.sqrt(na)
  }
  override protected def withNewChildInternal(c: Expression): VecNorm =
    copy(child = c)
  override def prettyName: String = "vec_norm"
}

/** `jaccard_sim(a, b)` over two string arrays: |distinct(a) ∩
  * distinct(b)| / |distinct(a) ∪ distinct(b)| as double — value-
  * identical to size(array_intersect)/size(array_union) on
  * array_distinct'ed inputs, in one hash-set pass instead of four
  * interpreted array traversals.
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryDelegateCodegen {
  override def dataType: DataType = DoubleType
  // empty-union inputs produce a null RESULT even for non-null children
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val setA = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { setA.add(a.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String](b.numElements() * 2)
    i = 0
    while (i < b.numElements()) { setB.add(b.getUTF8String(i)); i += 1 }
    var inter = 0
    val it = setA.iterator()
    while (it.hasNext) { if (setB.contains(it.next())) inter += 1 }
    val union = setA.size() + setB.size() - inter
    if (union == 0) null else inter.toDouble / union.toDouble
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sim"
}

/** `jaccard_sim_sorted(a, b)`: [[JaccardSim]] for inputs that are
  * ALREADY sorted and duplicate-free (e.g. a shingle table built with
  * `array_sort(array_distinct(...))`) — the intersection is a single
  * allocation-free merge walk instead of two per-pair hash-set builds.
  * On the refinement join the pair table is quadratic in cluster size
  * while the shingle table is linear in the corpus, so sorting once per
  * DOC to make every PAIR cheap is the right trade at any scale.
  * Value-identical to [[JaccardSim]] on sorted-distinct inputs (pinned
  * by NativeExprParitySpec); on unsorted input the result is undefined.
  * Ordering must match `array_sort`'s StringType ordering — both are
  * `UTF8String.compareTo` (binary byte order).
  */
case class JaccardSimSorted(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryDelegateCodegen {
  override def dataType: DataType = DoubleType
  // empty-union inputs produce a null RESULT even for non-null children
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    if (na + nb == 0) return null
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union.toDouble
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSimSorted =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sim_sorted"
}

/** `hyperplane_bucket(vec, nPlanes)`: sign-LSH bucket id for an
  * `array<float>` embedding — bit p of the result is the sign of the
  * dot product with pseudo-random hyperplane p. Hyperplanes are
  * derived deterministically from md5("plane:<p>:<j>") (no RNG, no
  * seed state — same plane family on every executor and every run).
  * The coarse quantizer for IVF-style ANN: equal vectors always share
  * a bucket; cosine-close vectors collide with probability
  * 1 - theta/pi per plane.
  */
case class HyperplaneBucket(child: Expression, nPlanes: Int, dim: Int)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(nPlanes >= 1 && nPlanes <= 30)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  // planes are a pure function of (p, j): md5 first 4 bytes -> [-1, 1)
  @transient private lazy val planes: Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, j) =>
      md.reset()
      val h = md.digest(s"plane:$p:$j".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 24) | ((h(1) & 0xff) << 16) |
              ((h(2) & 0xff) << 8) | (h(3) & 0xff)
      v / 2147483648.0
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(dim, arr.numElements())
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += arr.getFloat(j) * plane(j); j += 1 }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneBucket =
    copy(child = c)
  override def prettyName: String = "hyperplane_bucket"
}

/** `nearest_centroid(vec)`: index of the centroid (rows of `centroids`)
  * with maximal cosine similarity to the `array<float>` input; ties
  * break to the lowest index. Centroids ride inside the expression
  * (plan-serialized to every task — k x dim doubles, a few KB).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(centroids.nonEmpty)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      val n = math.min(cen.length, arr.numElements())
      var dot = 0.0
      var j = 0
      while (j < n) { dot += arr.getFloat(j) * cen(j); j += 1 }
      val score = if (norms(c) == 0.0) Double.NegativeInfinity else dot / norms(c)
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
  override def prettyName: String = "nearest_centroid"
}

/** `max_cos(vec, nm)`: maximum cosine similarity of the `array<float>`
  * input against an embedded seed set — the per-row kernel of the
  * distributed k-center traversal
  * ([[graft.operators.Similarity.kcenterSeedsDistributed]]). `nm` is
  * the row's precomputed [[VecNorm]]; seed norms ride with the seeds.
  * The fold is operation-for-operation the driver traversal's loop —
  * seeds in ascending order, dot in ascending index over the common
  * prefix widening floats to double, `cos = dot / (nm * seedNorm)`,
  * running max via strict `>` from -Infinity — so recomputing the max
  * over seeds 0..s each round is bit-identical to the driver's
  * incrementally-updated state (max is order-insensitive only up to
  * ties, and equal doubles are the same bits). Seeds are
  * plan-serialized (k x dim floats — a few KB per round).
  */
case class MaxCosine(left: Expression, right: Expression,
                     seeds: Array[Array[Float]], seedNorms: Array[Double])
    extends BinaryExpression with GraftBinaryDelegateCodegen {
  require(seeds.nonEmpty && seeds.length == seedNorms.length)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val arr = l.asInstanceOf[ArrayData]
    val nm = r.asInstanceOf[Double]
    var mc = Double.NegativeInfinity
    var s = 0
    while (s < seeds.length) {
      val sv = seeds(s)
      val n = math.min(arr.numElements(), sv.length)
      var dot = 0.0
      var j = 0
      while (j < n) {
        dot += arr.getFloat(j).toDouble * sv(j).toDouble
        j += 1
      }
      val cos = dot / (nm * seedNorms(s))
      if (cos > mc) mc = cos
      s += 1
    }
    mc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxCosine =
    copy(left = l, right = r)
  override def prettyName: String = "max_cos"
}

/** `range_bucket(v)`: number of sorted boundaries <= v — the bucket
  * index of a range partitioning — by binary search. The chained-when
  * fold this replaces generates O(boundaries) comparisons per row:
  * invisible at 32 buckets, but past a few thousand the generated
  * method outgrows the JIT/codegen limits and the whole stage falls
  * back to interpreted evaluation. Here the generated stage is
  * CONSTANT-size for any bucket count and each row costs O(log B);
  * boundaries ride plan-serialized inside the expression (8 bytes per
  * bucket — a 16k-bucket config is 128 KB, broadcast once with the
  * plan, not per row).
  *
  * NaN counts above every boundary, matching Spark's NaN-greatest
  * comparison semantics that the `when(ord >= bound)` fold exhibited.
  */
case class RangeBucket(child: Expression, bounds: Array[Double])
    extends UnaryExpression with GraftUnaryDelegateCodegen
    with ImplicitCastInputTypes {
  // analysis inserts the numeric->double cast (or fails at plan time);
  // without this a long child ClassCastExceptions at runtime
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double]
    if (java.lang.Double.isNaN(v)) bounds.length
    else {
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v >= bounds(mid)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }
  override protected def withNewChildInternal(c: Expression): RangeBucket =
    copy(child = c)
  override def prettyName: String = "range_bucket"
}

/** `z_value(buckets)`: Morton/Z-order interleave of an `array<int>` of
  * per-dimension bucket ids — bit b of dimension c lands at output bit
  * `b * nDims + c`, so a RANGE of z-values covers a small hyper-box in
  * every dimension at once. This is the clustering key behind
  * [[graft.operators.Compactor.zorderParquet]]: sort a lake by z and
  * each output file's parquet min/max stats are tight on EVERY
  * z-ordered column, which is what lets a selective scan on any one of
  * them skip most row groups (plain single-column sort only tightens
  * its own column).
  *
  * Bucket ids must be in [0, 2^bits); values are masked to `bits` so a
  * contract violation degrades to wrap-around, never to a negative
  * long. `nDims * bits` must fit 63 bits (enforced at construction).
  * Null array or any null element -> null (rows with null cluster keys
  * sort together at the range boundary).
  */
case class ZValue(child: Expression, bits: Int)
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n * bits > 63)
      throw new IllegalArgumentException(
        s"z_value: $n dims x $bits bits exceeds 63 output bits")
    val mask = (1L << bits) - 1L
    var z = 0L
    var c = 0
    while (c < n) {
      if (arr.isNullAt(c)) return null
      val v = arr.getInt(c).toLong & mask
      var b = 0
      while (b < bits) {
        z |= ((v >> b) & 1L) << (b * n + c)
        b += 1
      }
      c += 1
    }
    z
  }
  override protected def withNewChildInternal(c: Expression): ZValue =
    copy(child = c)
  override def prettyName: String = "z_value"
}

/** `sketch_project(vec)`: the Johnson-Lindenstrauss sketch of an
  * `array<float>` — element j is the dot product of the input with row
  * j of the literal projection `matrix`, double-accumulated in
  * ascending index order over the common prefix and then cast to
  * float. That is operation-for-operation
  * `array_j(cast(dot_product(vec, lit(matrix(j))) as float))`, so the
  * two forms are BIT-IDENTICAL (pinned by NativeExprParitySpec) and
  * the s06 DuckDB oracle, which restates the dot-literal form, covers
  * this one unchanged.
  *
  * Exists because the composed form detonates codegen: a
  * `CreateArray` of 32 DotProduct nodes each dragging a 64-float
  * literal blows the projection past Janino's method limit, and the
  * silent interpreted fallback re-walks 32 expression trees per row —
  * measured 33 s where this kernel (one reference object holding the
  * primitive matrix, one fused loop nest) runs in ~1 s. The matrix
  * rides inside the expression like [[NearestCentroid]]'s centroids:
  * sketchDim x dim floats, a few KB plan-serialized to every task.
  */
case class SketchProject(child: Expression, matrix: Array[Array[Float]])
    extends UnaryExpression with GraftUnaryDelegateCodegen {
  require(matrix.nonEmpty, "sketch_project: empty projection matrix")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(SketchProject.project(arr.toFloatArray(), 0, arr.numElements(), matrix))
  }
  override protected def withNewChildInternal(c: Expression): SketchProject =
    copy(child = c)
  override def prettyName: String = "sketch_project"
}

object SketchProject {
  /** The sketch of `v(off until off + len)`: element j is the dot
    * product with `matrix(j)` over their common prefix, accumulated in
    * double in ascending index order, then cast to float. The kernel
    * of the expression and of the driver-resident sketch search
    * ([[graft.operators.AnnIndex]]).
    */
  def project(v: Array[Float], off: Int, len: Int,
              matrix: Array[Array[Float]]): Array[Float] = {
    val out = new Array[Float](matrix.length)
    var j = 0
    while (j < matrix.length) {
      val row = matrix(j)
      val n = math.min(row.length, len)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += v(off + i).toDouble * row(i).toDouble
        i += 1
      }
      out(j) = dot.toFloat
      j += 1
    }
    out
  }
}

object NativeFns {
  def minhash_sig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), k))
  def simhash_bits(words: Column, bits: Int): Column =
    ColumnBridge.column(SimHashBits(ColumnBridge.expression(words), bits))
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def vec_norm(v: Column): Column =
    ColumnBridge.column(VecNorm(ColumnBridge.expression(v)))
  def jaccard_sim(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def jaccard_sim_sorted(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSimSorted(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def hyperplane_bucket(vec: Column, nPlanes: Int, dim: Int): Column =
    ColumnBridge.column(HyperplaneBucket(ColumnBridge.expression(vec), nPlanes, dim))
  def word_shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(vec), centroids))
  def max_cos(vec: Column, nm: Column, seeds: Array[Array[Float]],
              seedNorms: Array[Double]): Column =
    ColumnBridge.column(MaxCosine(ColumnBridge.expression(vec),
      ColumnBridge.expression(nm), seeds, seedNorms))
  def sketch_project(vec: Column, matrix: Array[Array[Float]]): Column =
    ColumnBridge.column(SketchProject(ColumnBridge.expression(vec), matrix))
  def range_bucket(v: Column, bounds: Array[Double]): Column =
    ColumnBridge.column(RangeBucket(ColumnBridge.expression(v), bounds))
  def z_value(buckets: Column, bits: Int): Column =
    ColumnBridge.column(ZValue(ColumnBridge.expression(buckets), bits))
  def winnow_fp(norm: Column, k: Int, gram: Int): Column =
    ColumnBridge.column(WinnowFp(ColumnBridge.expression(norm), k, gram))
  def word_chunks(text: Column, n: Int, hashed: Boolean = false): Column =
    ColumnBridge.column(WordChunks(ColumnBridge.expression(text), n, hashed))
  def word_stats(text: Column, stop: Seq[String]): Column =
    ColumnBridge.column(WordStats(ColumnBridge.expression(text), stop))
  def gopher_keep(text: Column, stop: Seq[String], minTok: Long,
                  minMeanLen: Double, maxMeanLen: Double,
                  maxRepFrac: Double, minStopHits: Long): Column =
    ColumnBridge.column(GopherKeep(ColumnBridge.expression(text), stop,
      minTok, minMeanLen, maxMeanLen, maxRepFrac, minStopHits))
}
