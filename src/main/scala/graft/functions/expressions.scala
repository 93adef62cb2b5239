package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot analytics loops.
  *
  * Why these exist (measured at sf0.1): Spark's higher-order functions
  * (`transform`/`aggregate`/`zip_with`) are CodegenFallback — every element
  * goes through an interpreted, boxing lambda. The minhash signature alone
  * is ~100M element-ops at sf0.1 (5k docs × ~300 shingles × 64 permutations)
  * and took ~12–24 s interpreted. Each expression below is the same math as
  * the higher-order formulation (bit-for-bit identical results, pinned by
  * the DuckDB oracles) compiled to a tight primitive loop via `doGenCode`,
  * with an `eval` twin for interpreted contexts.
  *
  * Constants for the minhash permutations are splitmix64-derived and the
  * products are provably < 2^63 (30-bit masked hash × 32-bit odd constant),
  * so ANSI mode can never see an overflow.
  */
object MinHashConstants {
  val numHashes = 64

  /** Modulus of the universal hash family: the Mersenne prime 2³¹−1.
    * REQUIRED — r5 found that the previous family `x·A(h) + B(h)` with no
    * reduction NEVER overflowed (30-bit x × 32-bit A < 2⁶²), making every
    * "permutation" strictly monotone in x: all 64 rows picked the SAME
    * argmin element, collapsing the family to one effective permutation
    * (P(candidate) ≈ J instead of 1−(1−J²)^bands — five J=0.89–0.99 pairs
    * escaped banding at sf0.1). The mod-p reduction makes each row a
    * genuine (a·x + b) mod p universal permutation. */
  val P: Long = 2147483647L
  private def mix(i: Int): Long = {
    var z = i.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) | 1L
  }
  // a ∈ [1, p−1], b ∈ [0, p−1]; a·x ≤ (p−1)·(2³⁰−1) < 2⁶¹ — exact in a long
  val A: Array[Long] = (0 until numHashes).map(h => (mix(h) & 0x7FFFFFFFL) % (P - 1) + 1).toArray
  val B: Array[Long] = (0 until numHashes).map(h => (mix(h + 1000) & 0x7FFFFFFFL) % P).toArray

  def signatureOf(hashes: Array[Long]): Array[Long] = {
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val x = hashes(i) & 0x3FFFFFFFL
      var h = 0
      while (h < numHashes) {
        val v = (x * A(h) + B(h)) % P
        if (v < out(h)) out(h) = v
        h += 1
      }
      i += 1
    }
    out
  }
}

/** `graft_minhash(array<bigint>) → array<bigint>` — 64-element minhash
  * signature over pre-hashed shingles. */
case class MinHashSignature(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) { hashes(i) = arr.getLong(i); i += 1 }
    new GenericArrayData(MinHashConstants.signatureOf(hashes))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.addReferenceObj("minhashA", MinHashConstants.A, "long[]")
      val b = ctx.addReferenceObj("minhashB", MinHashConstants.B, "long[]")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      s"""
         |long[] $out = new long[${MinHashConstants.numHashes}];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $x = $c.getLong($i) & 0x3FFFFFFFL;
         |  for (int $h = 0; $h < ${MinHashConstants.numHashes}; $h++) {
         |    long $v = ($x * $a[$h] + $b[$h]) % ${MinHashConstants.P}L;
         |    if ($v < $out[$h]) $out[$h] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `graft_simhash(array<bigint>) → bigint` — 64-bit SimHash by per-bit
  * voting over token hashes. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(LongType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sim = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) sim |= (1L << bit); bit += 1 }
    sim
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val bit = ctx.freshName("bit")
      val sim = ctx.freshName("sim")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $bit = 0; $bit < 64; $bit++) {
         |    if ((($h >>> $bit) & 1L) == 1L) $votes[$bit]++; else $votes[$bit]--;
         |  }
         |}
         |long $sim = 0L;
         |for (int $bit = 0; $bit < 64; $bit++) {
         |  if ($votes[$bit] > 0) $sim |= (1L << $bit);
         |}
         |${ev.value} = $sim;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `graft_cosine(array<double>, array<double>) → double` — one-pass cosine
  * similarity (dot and both norms in a single loop; same left-to-right
  * accumulation order as the `aggregate` fold it replaces). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(left, right),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i); double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `graft_l2sq(array<double>, array<double>) → double` — squared Euclidean
  * distance in one loop (same left-to-right accumulation order as the
  * `aggregate(zip_with(...))` fold it replaces, so oracle SQL that sums
  * squared diffs element-by-element matches bit-for-bit). The PQ/IVF
  * encode hot path: corpus × codebook evaluations per scan. */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(left, right),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $dd = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $dd * $dd;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): L2SquaredDistance =
    copy(left = newLeft, right = newRight)
}

/** `graft_jaccard_sorted(array<bigint>, array<bigint>) → double` — Jaccard
  * similarity of two SORTED DISTINCT long arrays by merge-walk:
  * O(n+m), no per-pair hash sets. Callers sort upstream once
  * (`sort_array(array_distinct(...))`) — amortized over all pairs. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(left, right),
      Seq(ArrayType(LongType), ArrayType(LongType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var inter = 0L
    val n = a.numElements(); val m = b.numElements()
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = n.toLong + m.toLong - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val union = ctx.freshName("union")
      s"""
         |int $i = 0; int $j = 0; long $inter = 0L;
         |int $n = $a.numElements(); int $m = $b.numElements();
         |while ($i < $n && $j < $m) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $inter++; $i++; $j++; }
         |  else if ($x < $y) $i++;
         |  else $j++;
         |}
         |long $union = (long) $n + (long) $m - $inter;
         |${ev.value} = ($union == 0L) ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** `graft_intersect_count(array<bigint>, array<bigint>) → bigint` —
  * |a ∩ b| of two SORTED DISTINCT long arrays by the same merge-walk as
  * [[JaccardSorted]]. Replaces `size(array_intersect(a, b))` in d7's
  * verify join: array_intersect builds a per-row hash set AND
  * materializes the intersection array only for size() to throw it away
  * — on 78 M candidate pairs that allocation is the verify stage's cost. */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(left, right),
      Seq(ArrayType(LongType), ArrayType(LongType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intersect_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var inter = 0L
    val n = a.numElements(); val m = b.numElements()
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $i = 0; int $j = 0; long $inter = 0L;
         |int $n = $a.numElements(); int $m = $b.numElements();
         |while ($i < $n && $j < $m) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $inter++; $i++; $j++; }
         |  else if ($x < $y) $i++;
         |  else $j++;
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

/** `graft_shingle_hashes(array<string>, n) → array<bigint>` — the sorted,
  * de-duplicated xxhash64 values (seed 42, identical to the SQL `xxhash64`)
  * of word n-gram shingles, in one per-row loop. Replaces the interpreted
  * `sort_array(transform(... concat_ws ... array_distinct ...))` pipeline
  * that dominated near-dup cost at sf0.1 (~10 s of the ~17 s). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  def compute(words: ArrayData): GenericArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      val s = org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*)
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(s, 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedupe of the sorted array
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one virtual call per ROW into the native loop (element work inlined
      // in compute) — keeps the surrounding stage in whole-stage codegen
      val ref = ctx.addReferenceObj("shingler", this, classOf[ShingleHashes].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** The per-row loop [[ShingleMd5Hashes]] and [[ShingleMd5Sigs]] share: for
  * every window of `n` consecutive words, the first 8 bytes (big-endian,
  * signed) of the md5 of the window's words joined by single spaces. Word
  * bytes are extracted once per row and streamed into the reused digest.
  * A null word is skipped with its separator, as `concat_ws` does. */
private[functions] object ShingleMd5 {
  def prefixes(words: ArrayData, n: Int, md: java.security.MessageDigest): Array[Long] = {
    val m = words.numElements()
    if (m < n) return Array.emptyLongArray
    val wb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      wb(i) = if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var j = i
      var sep = false
      while (j < i + n) {
        if (wb(j) != null) {
          if (sep) md.update(' '.toByte)
          md.update(wb(j))
          sep = true
        }
        j += 1
      }
      val d = md.digest() // digest() resets for the next shingle
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (d(k) & 0xFFL); k += 1 }
      out(i) = v
      i += 1
    }
    out
  }
}

/** `graft_shingle_md5_hashes(array<string>, n) → array<bigint>` — the
  * sorted DISTINCT 60-bit md5 prefixes (first 15 hex chars of the digest)
  * of word n-gram shingle strings (words joined by a single space): the
  * engine-NEUTRAL twin of [[ShingleHashes]], for operators whose oracle
  * re-derives shingle hashes via `md5()` in SQL (d4 Bloom decontamination).
  *
  * Semantically equal to the interpreted
  * `transform(array_distinct(transform(seq, i -> concat_ws(' ', ...))),
  * s -> conv(substring(md5(s), 1, 15), 16, 10))` pipeline, but one native
  * loop: word bytes are extracted once per row and streamed straight into
  * a reused MessageDigest — no per-shingle string materialization (the
  * interpreted chain benched 18 s at sf0.1; this passes in ~1 s).
  * De-duplication happens on the 60-bit prefix rather than the shingle
  * string — identical output modulo md5-prefix collisions, the same
  * accepted class as d3's xxhash64 shingles. */
case class ShingleMd5Hashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_md5_hashes"

  // MessageDigest is stateful and not thread-safe; per-thread instance
  @transient private lazy val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  def compute(words: ArrayData): GenericArrayData = {
    val out = ShingleMd5.prefixes(words, n, digest.get())
    // first 15 hex chars = top 60 bits: the signed 64-bit prefix >>> 4
    var i = 0
    while (i < out.length) { out(i) = out(i) >>> 4; i += 1 }
    java.util.Arrays.sort(out)
    // in-place dedupe of the sorted array
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("shingleMd5", this, classOf[ShingleMd5Hashes].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Hashes =
    copy(child = newChild)
}

/** `graft_md5_prefix_hashes(array<string>) → array<bigint>` — per-token
  * 60-bit hashes: the first 15 lowercase-hex chars of md5(token) as an
  * integer, i.e. the top 60 bits of the digest. Bit-identical to the
  * interpreted `transform(toks, t -> conv(substring(md5(t), 1, 15), 16,
  * 10))` pipeline n5 used (engine-NEUTRAL hashes — DuckDB re-derives the
  * same values from `md5()`), but one tight per-row loop instead of a
  * boxing lambda per token. A null token hashes to null, as `md5(NULL)`
  * does, so the result holds nulls only when the input can. */
case class Md5PrefixHashes(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = false)
  }
  override def prettyName: String = "graft_md5_prefix_hashes"

  // MessageDigest is stateful and not thread-safe; the expression object is
  // shared via addReferenceObj across a stage's tasks → per-thread instance
  @transient private lazy val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  def compute(tokens: ArrayData): GenericArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    val md = digest.get()
    var hasNull = false
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) hasNull = true
      else {
        val d = md.digest(tokens.getUTF8String(i).getBytes) // digest() resets
        // first 15 hex chars = top 60 bits: big-endian first 8 bytes >>> 4
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
        out(i) = v >>> 4
      }
      i += 1
    }
    if (!hasNull) new GenericArrayData(out)
    else new GenericArrayData(Array.tabulate[Any](n)(k => if (tokens.isNullAt(k)) null else out(k)))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("md5px", this, classOf[Md5PrefixHashes].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixHashes =
    copy(child = newChild)
}

/** Hyperplane constants for the sign-LSH signature: 32 planes × 64 dims of
  * deterministic centered pseudo-uniforms (splitmix64-derived). */
object HyperplaneConstants {
  val numPlanes = 32
  val dim = 64
  private def mix(i: Long): Long = {
    var z = i * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** planes(p)(i) ∈ [-1, 1) */
  val planes: Array[Array[Double]] = Array.tabulate(numPlanes, dim) { (p, i) =>
    (math.floorMod(mix(p.toLong * dim + i), 2000001L).toDouble - 1000000.0) / 1000000.0
  }

  def signatureOf(v: ArrayData): Long = {
    var sig = 0L
    var p = 0
    val n = math.min(dim, v.numElements())
    while (p < numPlanes) {
      val plane = planes(p)
      var proj = 0.0
      var i = 0
      while (i < n) { proj += v.getDouble(i) * plane(i); i += 1 }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

/** `graft_hyperplane_sig(array<double>) → bigint` — 32-bit sign-of-random-
  * hyperplane LSH signature (bits 0..31 of the result). */
case class HyperplaneSignature(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(DoubleType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  override def nullSafeEval(input: Any): Any =
    HyperplaneConstants.signatureOf(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val planes = ctx.addReferenceObj("hyperplanes", HyperplaneConstants.planes, "double[][]")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val proj = ctx.freshName("proj")
      s"""
         |long $sig = 0L;
         |int $n = Math.min(${HyperplaneConstants.dim}, $c.numElements());
         |for (int $p = 0; $p < ${HyperplaneConstants.numPlanes}; $p++) {
         |  double $proj = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $proj += $c.getDouble($i) * $planes[$p][$i];
         |  }
         |  if ($proj > 0) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}

/** `graft_winnow_hashes(string, k, w) → array<bigint>` — the sorted DISTINCT
  * winnowing fingerprints of a text (Schleimer–Wilkerson–Aiken 2003, the
  * MOSS algorithm): hash every k-char window (60-bit md5 prefix, the
  * engine-NEUTRAL [[ShingleMd5Hashes]] convention — DuckDB re-derives the
  * identical values as `substr(md5(substr(text, p, k)), 1, 15)` and compares
  * them lexicographically, which for fixed-width lowercase hex equals the
  * numeric order used here), then from every window of w consecutive hashes
  * select the minimum. Any verbatim run of ≥ k + w − 1 chars shared by two
  * documents contains a full w-window of identical k-gram hashes in BOTH
  * copies regardless of offset alignment, so both select the same minimum —
  * the content-defined-selection guarantee fixed-stride sampling lacks.
  *
  * One native loop per row: an O(n) monotonic-deque rolling minimum over
  * the position hashes (the interpreted twin is an O(n·w)
  * `transform(sequence, i -> array_min(slice(...)))` chain of boxing
  * CodegenFallback HOFs). Window offsets count UTF-16 units while the
  * oracle's `substr` counts code points — identical for BMP text (the
  * corpus contract; same accepted class as the md5-prefix collision
  * caveat). Short texts (< k chars) yield their single clipped window,
  * matching SQL `substr` clipping in both engines. */
case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0, "graft_winnow_hashes: k and w must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_hashes"

  // MessageDigest is stateful and not thread-safe; per-thread instance
  @transient private lazy val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def compute(text: org.apache.spark.unsafe.types.UTF8String): GenericArrayData = {
    val str = text.toString
    val len = str.length
    val m = math.max(len - k + 1, 1)
    val md = digest.get()
    val bytes = text.getBytes
    val ascii = bytes.length == len // 1 byte per UTF-16 unit ⇒ pure ASCII
    val h = new Array[Long](m)
    var p = 0
    while (p < m) {
      val end = math.min(p + k, len)
      if (ascii) md.update(bytes, p, end - p)
      else md.update(str.substring(p, end)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest() // digest() resets for the next window
      // first 15 hex chars = top 60 bits: big-endian first 8 bytes >>> 4
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
      h(p) = v >>> 4
      p += 1
    }
    // rolling minimum over windows of we = min(w, m) hashes: monotonic
    // deque of indices, O(m) total
    val we = math.min(w, m)
    val sel = new Array[Long](m - we + 1)
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    var out = 0
    var i = 0
    while (i < m) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - we) head += 1
      if (i >= we - 1) { sel(out) = h(dq(head)); out += 1 }
      i += 1
    }
    java.util.Arrays.sort(sel)
    // in-place dedupe of the sorted array
    var wr = 0
    var r = 0
    while (r < sel.length) {
      if (r == 0 || sel(r) != sel(r - 1)) { sel(wr) = sel(r); wr += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, wr))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("winnower", this, classOf[WinnowHashes].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

/** `graft_shingle_md5_sigs(array<string>, n) → array<bigint>` — the full
  * SIGNED 64-bit md5 prefix (first 16 hex chars, i.e. the first 8 digest
  * bytes big-endian) of every word n-gram INSTANCE, one entry per position,
  * NOT deduplicated — t26's per-instance gram signature. Bit-identical to
  * the interpreted `transform(sequence(1, size(ws) - n + 1), i ->
  * CAST(conv(substring(md5(concat_ws(' ', slice(ws, i, n))), 1, 16), 16,
  * -10) AS BIGINT))` chain (r15, guide §4: the interpreted form built a
  * shingle string, hex-encoded the digest, and re-parsed 16 hex chars per
  * gram — this streams word bytes into a reused MessageDigest and reads
  * the signed long straight off the digest; the same swap measured 18 s →
  * 1 s for d4's [[ShingleMd5Hashes]]). Differs from [[ShingleMd5Hashes]]
  * in exactly two ways, both required by t26's fold: per-INSTANCE output
  * (duplicate grams must keep their multiplicity — `inst` counts them)
  * and the full 64 bits (ADVICE r12: 60 bits had ~2% birthday odds at
  * sf30's gram cardinality). */
case class ShingleMd5Sigs(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireTypes(prettyName, Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_md5_sigs"

  // MessageDigest is stateful and not thread-safe; per-thread instance
  @transient private lazy val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  // first 16 hex chars = first 8 bytes big-endian, SIGNED (conv(.., 16, -10))
  def compute(words: ArrayData): GenericArrayData =
    new GenericArrayData(ShingleMd5.prefixes(words, n, digest.get()))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("shingleSigs", this, classOf[ShingleMd5Sigs].getName)
      s"${ev.value} = $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Sigs =
    copy(child = newChild)
}

/** Registration: per-session function registry (callable from any code that
  * holds the session) plus a [[org.apache.spark.sql.SparkSessionExtensions]]
  * hook for `spark.sql.extensions=graft.functions.GraftExtensions`. */
object GraftFunctions {
  /** Structural type check: exact match on (elementType-compatible) array
    * types; used instead of ExpectsInputTypes (whose AbstractDataType is
    * private[sql] in Spark 4). */
  private[functions] def requireTypes(name: String, children: Seq[Expression],
      expected: Seq[DataType]): TypeCheckResult = {
    val bad = children.zip(expected).zipWithIndex.collectFirst {
      case ((c, ArrayType(et, _)), idx) if !c.dataType.isInstanceOf[ArrayType] ||
        c.dataType.asInstanceOf[ArrayType].elementType != et =>
        s"$name argument ${idx + 1} must be array<${et.simpleString}>, got ${c.dataType.simpleString}"
      case ((c, t), idx) if !c.dataType.isInstanceOf[ArrayType] && c.dataType != t =>
        s"$name argument ${idx + 1} must be ${t.simpleString}, got ${c.dataType.simpleString}"
    }
    bad.fold(TypeCheckResult.TypeCheckSuccess: TypeCheckResult)(
      TypeCheckResult.TypeCheckFailure)
  }

  private[functions] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_minhash", (c: Seq[Expression]) => MinHashSignature(c.head)),
    ("graft_simhash", (c: Seq[Expression]) => SimHash64(c.head)),
    ("graft_cosine", (c: Seq[Expression]) => CosineSimilarity(c(0), c(1))),
    ("graft_jaccard_sorted", (c: Seq[Expression]) => JaccardSorted(c(0), c(1))),
    ("graft_intersect_count", (c: Seq[Expression]) => IntersectCountSorted(c(0), c(1))),
    ("graft_l2sq", (c: Seq[Expression]) => L2SquaredDistance(c(0), c(1))),
    ("graft_hyperplane_sig", (c: Seq[Expression]) => HyperplaneSignature(c.head)),
    // optional 2nd arg: shingle width n (a literal), default word 3-grams
    ("graft_shingle_hashes", (c: Seq[Expression]) => ShingleHashes(c.head,
      if (c.length > 1) c(1).eval().asInstanceOf[Number].intValue() else 3)),
    ("graft_md5_prefix_hashes", (c: Seq[Expression]) => Md5PrefixHashes(c.head)),
    // optional 2nd arg: shingle width n (a literal), default word 5-grams
    ("graft_shingle_md5_hashes", (c: Seq[Expression]) => ShingleMd5Hashes(c.head,
      if (c.length > 1) c(1).eval().asInstanceOf[Number].intValue() else 5)),
    // optional 2nd arg: shingle width n (a literal), default word 8-grams
    ("graft_shingle_md5_sigs", (c: Seq[Expression]) => ShingleMd5Sigs(c.head,
      if (c.length > 1) c(1).eval().asInstanceOf[Number].intValue() else 8)),
    // optional literal args: k-gram width, winnow window (defaults 20, 16)
    ("graft_winnow_hashes", (c: Seq[Expression]) => WinnowHashes(c.head,
      if (c.length > 1) c(1).eval().asInstanceOf[Number].intValue() else 20,
      if (c.length > 2) c(2).eval().asInstanceOf[Number].intValue() else 16))
  )

  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder)
    }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
