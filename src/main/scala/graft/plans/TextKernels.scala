package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text kernels for the dedup hot path.
  *
  * The composable formulation (`transform(sequence(...), i →
  * concat_ws(" ", slice(toks, i, n)))` …) is evaluated INTERPRETED per
  * element — profiled at ~75 % of the whole minhash pipeline at sf0.1.
  * These kernels do tokenize→shingle→hash→permute in one tight JVM loop
  * per row, invoked from generated code (SURVEY §7.3 extension path).
  *
  * Determinism contract (oracle-critical): tokenization is
  * `split(trim(text), "\s+")` with Spark/Java regex semantics (trim
  * strips ASCII spaces only); shingles join n consecutive tokens with a
  * single space; the hash is the first 7 lowercase hex chars of the
  * UTF-8 md5 parsed base-16 (28 bits) — all bit-identical to both the
  * HOF formulation in [[graft.functions.TextFunctions]] and the
  * generated DuckDB oracle SQL.
  */
object TextKernels {
  // minhash permutation constants (the public aliases live on
  // graft.operators.Dedup, which the oracle-SQL generator reads)
  val MinhashP = 1000000007L
  val MinhashA: Array[Long] = Array(443, 971, 311, 653, 127, 811, 229, 577)
  val MinhashB: Array[Long] = Array(17, 89, 41, 233, 157, 11, 271, 97)
  val NumPerms: Int = MinhashA.length

  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Spark `trim`: leading/trailing ASCII space (0x20) only — NOT
    * Java's String.trim (which strips all control chars).
    */
  private def trimSpaces(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  private def tokenize(text: String): Array[String] =
    trimSpaces(text).split("\\s+", -1)

  /** first 7 hex chars of md5 as a 28-bit long (== conv(substr(md5(x),1,7),16,10)). */
  def hash28(s: String): Long =
    hash28Bytes(s.getBytes(StandardCharsets.UTF_8))

  private def hash28Bytes(bytes: Array[Byte]): Long = {
    val d = digests.get().digest(bytes)
    // 7 hex chars = 28 bits = bytes 0..2 plus the high nibble of byte 3
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >>> 4)
  }

  /** md5 bucket in [0, buckets): the native form of
    * `conv(substr(md5(x),1,7),16,10) % buckets` — digests the UTF-8
    * bytes directly (no hex-string materialization, no base-16 parse).
    */
  def hashBucket(text: UTF8String, buckets: Int): Long =
    hash28Bytes(text.getBytes) % buckets

  private def eachShingle(text: String, n: Int)(f: String => Unit): Unit = {
    val toks = tokenize(text)
    if (toks.length < n) return
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var k = 0
      while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
      f(sb.toString)
      i += 1
    }
  }

  /** distinct n-gram shingles, first-occurrence order (== array_distinct
    * of the HOF shingles; empty for docs shorter than n tokens).
    */
  def shingles(text: UTF8String, n: Int): GenericArrayData = {
    val seen = new java.util.LinkedHashSet[String]()
    eachShingle(text.toString, n)(seen.add)
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  def shinglesAll(text: UTF8String, n: Int): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    eachShingle(text.toString, n)(s => out += UTF8String.fromString(s))
    new GenericArrayData(out.toArray)
  }

  /** all adjacent token pairs as structs — len-1 elements, duplicates
    * kept (the BPE pair-count input). */
  def adjacentPairs(ts: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData = {
    val n = ts.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = ts.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = ts.getUTF8String(i)
      out(i - 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** greedy left-to-right non-overlapping fuse of adjacent (a, b) into
    * `merged` over a token array — single pass, O(len). Bit-identical
    * to the struct-accumulator `aggregate` HOF in
    * [[graft.functions.Bpe.applyMerge]] including its ""-as-empty-slot
    * sentinel (order of the two checks matters: a pending "" can still
    * merge when a == "").
    */
  def mergeAdjacent(ts: org.apache.spark.sql.catalyst.util.ArrayData,
                    a: UTF8String, b: UTF8String, merged: UTF8String): GenericArrayData = {
    val n = ts.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var pending: UTF8String = UTF8String.EMPTY_UTF8
    var i = 0
    while (i < n) {
      val x = ts.getUTF8String(i)
      if (pending == a && x == b) { out += merged; pending = UTF8String.EMPTY_UTF8 }
      else if (pending.numBytes == 0) pending = x
      else { out += pending; pending = x }
      i += 1
    }
    if (pending.numBytes != 0) out += pending
    new GenericArrayData(out.toArray)
  }

  /** minhash signature: per-permutation min of (hash28 * A + B) mod P
    * over all shingles (duplicates cannot change a min, so no distinct
    * pass is needed). Null mins for docs shorter than n tokens — same
    * as array_min over an empty array.
    */
  def shingleMinHash(text: UTF8String, n: Int): GenericArrayData = {
    val mins = Array.fill(NumPerms)(Long.MaxValue)
    var any = false
    eachShingle(text.toString, n) { s =>
      any = true
      val h = hash28(s)
      var j = 0
      while (j < NumPerms) {
        val v = (h * MinhashA(j) + MinhashB(j)) % MinhashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }
    val out = new Array[Any](NumPerms)
    var j = 0
    while (j < NumPerms) { out(j) = if (any) Long.box(mins(j)) else null; j += 1 }
    new GenericArrayData(out)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** md5 of (trim → lower → collapse-whitespace) as lowercase hex —
    * bit-identical to `md5(regexp_replace(lower(trim(text)), "\s+", " "))`.
    * trim/lowercase delegate to UTF8String so Unicode case mapping is
    * EXACTLY Spark's (not the JVM locale's).
    */
  def normalizedMd5(text: UTF8String): UTF8String = {
    val canon = text.trim().toLowerCase.toString.replaceAll("\\s+", " ")
    val d = digests.get().digest(canon.getBytes(StandardCharsets.UTF_8))
    val hex = new Array[Char](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(hex))
  }

  /** distinct 28-bit shingle hashes, first-occurrence order (==
    * list_distinct of the hashed shingle list): the jaccard-verify
    * representation — long-array set ops beat string-array set ops, and
    * both engines derive the sets from the same md5 values so the
    * differential test still binds.
    */
  def distinctShingleHashes(text: UTF8String, n: Int): GenericArrayData = {
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    eachShingle(text.toString, n)(s => seen.add(hash28(s)))
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Gopher-style repetition signals in ONE pass (hashmap counts,
    * O(tokens) per row — the HOF formulation is O(tokens²) per row via
    * nested `filter` scans and outside whole-stage codegen):
    *   - n_tokens
    *   - dup_token_frac   = (n_tokens − distinct tokens) / n_tokens
    *   - top_bigram_frac  = occurrences of the most frequent bigram / n_bigrams
    *   - dup_bigram_frac  = bigram instances whose bigram occurs >1× / n_bigrams
    * All three fractions are ratios of small exact integers, so the
    * doubles are bit-identical across engines (no summation-order
    * sensitivity). A zero bigram denominator (single-token doc) yields
    * 0.0 — "no repetition", not null.
    */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val toks = tokenize(text.toString)
    // split("") yields [""]: the empty doc counts 1 (empty) token, matching
    // tokenCount / DuckDB len(string_split_regex(...)) exactly
    val nTok = toks.length
    val tokCounts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < nTok) { tokCounts.merge(toks(i), 1, Integer.sum); i += 1 }
    val dupTokFrac =
      if (nTok == 0) 0.0 else (nTok - tokCounts.size).toDouble / nTok
    val nBg = math.max(nTok - 1, 0)
    val bgCounts = new java.util.HashMap[String, Int]()
    i = 0
    while (i < nBg) {
      bgCounts.merge(toks(i) + " " + toks(i + 1), 1, Integer.sum); i += 1
    }
    var top = 0; var dupInstances = 0
    val it = bgCounts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > top) top = c
      if (c > 1) dupInstances += c
    }
    val topBgFrac = if (nBg == 0) 0.0 else top.toDouble / nBg
    val dupBgFrac = if (nBg == 0) 0.0 else dupInstances.toDouble / nBg
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok.toLong, dupTokFrac, topBgFrac, dupBgFrac))
  }

  /** simhash over distinct-token hashes: bit i set iff the majority of
    * hashes have bit i set (== the 28-term HOF formulation).
    */
  def simhash(text: UTF8String, bits: Int): Long = {
    val counts = new Array[Long](bits)
    val seen = new java.util.LinkedHashSet[String]()
    tokenize(text.toString).foreach(seen.add)
    val it = seen.iterator()
    while (it.hasNext) {
      val h = hash28(it.next())
      var i = 0
      while (i < bits) {
        counts(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L); i += 1
      }
    }
    var sig = 0L; var i = 0
    while (i < bits) { if (counts(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }
}

private[plans] trait TextKernelExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected STRING, got ${child.dataType}")
}

/** normalized-content md5 fingerprint as hex string (native). */
case class NormalizedMd5(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.normalizedMd5(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.normalizedMd5($c);")
  override protected def withNewChildInternal(newChild: Expression): NormalizedMd5 =
    copy(child = newChild)
}

object NormalizedMd5 {
  def apply(text: Column): Column =
    GraftBridge.column(NormalizedMd5(GraftBridge.expression(text)))
}

/** md5 bucket in [0, buckets) (native) — the deterministic-sampling hot
  * path ([[graft.operators.Sampling]]): one digest over the key's UTF-8
  * bytes per row, versus the composable
  * `conv(substring(md5(x), 1, 7), 16, 10) % buckets` chain that
  * materializes a 32-char hex string and re-parses 7 chars base-16.
  * Semantics bit-identical (property-tested) so the DuckDB oracle keeps
  * running the conv/substr/md5 SQL form.
  */
case class HashBucket(child: Expression, buckets: Int) extends TextKernelExpression {
  require(buckets > 0, s"HashBucket: buckets must be positive, got $buckets")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.hashBucket(input.asInstanceOf[UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.hashBucket($c, $buckets);")
  override protected def withNewChildInternal(newChild: Expression): HashBucket =
    copy(child = newChild)
}

object HashBucket {
  def apply(key: Column, buckets: Int): Column =
    GraftBridge.column(HashBucket(GraftBridge.expression(key), buckets))
}

/** distinct n-gram shingles as array<string> (native). */
case class ShingleArray(child: Expression, n: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.shingles($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

object ShingleArray {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(ShingleArray(GraftBridge.expression(text), n))
}

/** EVERY positional n-gram shingle, duplicates kept, as array<string>
  * (native) — the instance-semantics sibling of [[ShingleArray]] for
  * operators that count occurrences, not membership.
  */
case class ShingleInstances(child: Expression, n: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shinglesAll(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.shinglesAll($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): ShingleInstances =
    copy(child = newChild)
}

object ShingleInstances {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(ShingleInstances(GraftBridge.expression(text), n))
}

/** greedy non-overlapping adjacent-pair fuse over array<string>
  * (native) — the BPE rewrite step. One O(len) pass per row vs the
  * `aggregate` HOF whose per-element `concat(done, array(x))` copies
  * the accumulator (O(len²) per row, and per merge round).
  */
case class MergeAdjacent(child: Expression, a: String, b: String, merged: String)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected ARRAY<STRING>, got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val au = UTF8String.fromString(a)
  @transient private lazy val bu = UTF8String.fromString(b)
  @transient private lazy val mu = UTF8String.fromString(merged)

  /** codegen entry: instance method so the three UTF8String params ride
    * one reference object instead of three escaped string literals. */
  def fuse(ts: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData =
    TextKernels.mergeAdjacent(ts, au, bu, mu)

  override protected def nullSafeEval(input: Any): Any =
    fuse(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergeAdjacent", this, classOf[MergeAdjacent].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.fuse($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): MergeAdjacent =
    copy(child = newChild)
}

object MergeAdjacent {
  def apply(ts: Column, a: String, b: String, merged: String): Column =
    GraftBridge.column(MergeAdjacent(GraftBridge.expression(ts), a, b, merged))
}

/** adjacent token pairs as array<struct<a,b>> (native) — explode input
  * for BPE pair counting, replacing the interpreted
  * `transform(sequence(1, size-1), i → struct(element_at…))` chain.
  */
case class TokenPairs(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"expected ARRAY<STRING>, got $other")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", StringType), StructField("b", StringType))),
    containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.adjacentPairs(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.adjacentPairs($c);")
  override protected def withNewChildInternal(newChild: Expression): TokenPairs =
    copy(child = newChild)
}

object TokenPairs {
  def apply(ts: Column): Column =
    GraftBridge.column(TokenPairs(GraftBridge.expression(ts)))
}

/** distinct shingle hashes as array<long> (native). */
case class ShingleHashArray(child: Expression, n: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.distinctShingleHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.distinctShingleHashes($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashArray =
    copy(child = newChild)
}

object ShingleHashArray {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(ShingleHashArray(GraftBridge.expression(text), n))
}

/** minhash signature as array<long>[NumPerms] (native). */
case class MinHashSignature(child: Expression, n: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleMinHash(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.shingleMinHash($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(text), n))
}

/** simhash signature as a long (native). */
case class SimHashSignature(child: Expression, bits: Int) extends TextKernelExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash(input.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.simhash($c, $bits);")
  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

object SimHashSignature {
  def apply(text: Column, bits: Int): Column =
    GraftBridge.column(SimHashSignature(GraftBridge.expression(text), bits))
}

/** Gopher-style repetition signals as one struct (native single pass). */
case class RepetitionStats(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("dup_token_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextKernels.repetitionStats($c);")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  def apply(text: Column): Column =
    GraftBridge.column(RepetitionStats(GraftBridge.expression(text)))
}
