package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, Literal, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/**
 * Native Catalyst expressions for the text-hash hot paths.
 *
 * Spark's higher-order array functions (transform/aggregate/zip_with) are
 * CodegenFallback — interpreted, one boxed lambda call per element. A
 * MinHash signature is numHashes × shingles such calls per document; at
 * corpus scale that's the whole query cost. These expressions run the same
 * math as a tight JVM loop (one XXH64 string hash per shingle + numHashes
 * long hashes), participate in codegen via `defineCodeGen`, and keep the
 * plan free of UDF/RDD hops so column pruning still reaches the scan.
 *
 * Deterministic: same seeds (Spark's default xxhash64 seed 42) as the
 * declarative fallbacks in [[graft.operators.Dedup]].
 */
object TextHash {

  val XXHASH_DEFAULT_SEED = 42L

  private def splitTokens(s: String): Array[String] = s.split(" ", -1)

  /** MinHash signature over the k-shingle set of whitespace tokens.
    * Shingle content hash runs once (XXH64 over the joined shingle);
    * family `f`'s hash is XXH64.hashLong(base, f). Empty shingle set →
    * Long.MaxValue signature (matches no non-empty band). */
  def minhashSignature(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val toks = splitTokens(text.toString)
    val nSh = toks.length - k + 1
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val seen = new java.util.HashSet[Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < nSh) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val base = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), XXHASH_DEFAULT_SEED)
      if (seen.add(base)) {
        var f = 0
        while (f < numHashes) {
          val v = XXH64.hashLong(base, f.toLong)
          if (v < sig(f)) sig(f) = v
          f += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit hashes of every n-token window (positional; `distinct` = set
    * semantics). The per-position window string is built in one reused
    * StringBuilder and hashed immediately — nothing but the 8-byte hashes
    * survives, so downstream explodes/shuffles carry longs, not gram
    * strings. Fewer than n tokens → empty array. */
  def ngramHashes(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val toks = splitTokens(text.toString)
    val count = toks.length - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](count)
    val seen = if (distinct) new java.util.HashSet[Long]() else null
    val sb = new java.lang.StringBuilder()
    var m = 0
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), XXHASH_DEFAULT_SEED)
      if (seen == null) { out(m) = h; m += 1 }
      else if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == count) out else java.util.Arrays.copyOf(out, m))
  }

  /** xxhash64 (seed 42) of every DISTINCT ≤ `maxDist`-character-deletion
    * variant of `text` — the string itself included — without ever
    * materializing a variant string. The declarative form
    * (`transform`/`concat`/`substr` + `array_distinct` + `xxhash64`)
    * allocates ~len^maxDist short strings per row through interpreted
    * higher-order lambdas; this walks the UTF-8 bytes once to find
    * character boundaries, then assembles each variant's bytes into ONE
    * reusable buffer and hashes it in place. Hash values are
    * BIT-IDENTICAL to `xxhash64(variant)` on the same variant strings
    * (deletion is per character, exactly like `substr`; XXH64 runs over
    * the identical UTF-8 bytes with Spark's default seed), so swapping
    * this in changes no candidate bucket, only the allocation profile.
    * Emission order: the string itself, 1-deletions by position, then
    * 2-deletions by unordered position pair — first occurrence kept on
    * duplicates (set-equal to `array_distinct` of the variant strings). */
  def deletionHashes(text: UTF8String, maxDist: Int): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    // character start offsets (code points, matching substr semantics)
    var nc = 0
    var p = 0
    val offs = new Array[Int](nb + 1)
    while (p < nb) {
      offs(nc) = p
      p += UTF8String.numBytesForFirstByte(bytes(p))
      nc += 1
    }
    offs(nc) = nb
    val cap = 1 + (if (maxDist >= 1) nc else 0) +
      (if (maxDist >= 2) nc * (nc - 1) / 2 else 0)
    val out = new Array[Long](cap)
    val seen = new java.util.HashSet[Long](cap * 2)
    var m = 0
    def add(h: Long): Unit = if (seen.add(h)) { out(m) = h; m += 1 }
    add(XXH64.hashUnsafeBytes(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, nb,
      XXHASH_DEFAULT_SEED))
    if (maxDist >= 1 && nc > 0) {
      val buf = new Array[Byte](nb)
      var i = 0
      while (i < nc) {
        val a = offs(i)
        val tail = nb - offs(i + 1)
        System.arraycopy(bytes, 0, buf, 0, a)
        System.arraycopy(bytes, offs(i + 1), buf, a, tail)
        add(XXH64.hashUnsafeBytes(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, a + tail,
          XXHASH_DEFAULT_SEED))
        i += 1
      }
      if (maxDist >= 2) {
        i = 0
        while (i < nc - 1) {
          val a = offs(i)
          System.arraycopy(bytes, 0, buf, 0, a)
          var j = i + 1
          while (j < nc) {
            // [offs(i+1), offs(j)) + [offs(j+1), nb) after the shared prefix
            val mid = offs(j) - offs(i + 1)
            System.arraycopy(bytes, offs(i + 1), buf, a, mid)
            val tail = nb - offs(j + 1)
            System.arraycopy(bytes, offs(j + 1), buf, a + mid, tail)
            add(XXH64.hashUnsafeBytes(buf,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              a + mid + tail, XXHASH_DEFAULT_SEED))
            j += 1
          }
          i += 1
        }
      }
    }
    new GenericArrayData(
      if (m == cap) out else java.util.Arrays.copyOf(out, m))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5-based feature buckets of all 1..nMax-gram windows (positional,
    * non-distinct), one tight loop — bit-identical to
    * `conv(substring(md5(gram),1,8),16,10) % buckets` over
    * `Importance.ngramFeatures` (the first 32 md5 bits as an unsigned
    * int, mod buckets), which as a HOF pipeline is CodegenFallback and
    * ~10× slower. md5 (not xxhash64) so the DuckDB oracle can replay the
    * bucketing exactly. */
  def featBuckets(text: UTF8String, nMax: Int, buckets: Int): ArrayData = {
    val toks = splitTokens(text.toString)
    val len = toks.length
    var total = 0
    var n = 1
    while (n <= nMax) { total += math.max(len - n + 1, 0); n += 1 }
    val out = new Array[Int](total)
    val md = md5Local.get()
    val sb = new java.lang.StringBuilder()
    var m = 0
    n = 1
    while (n <= nMax) {
      val cnt = len - n + 1
      var i = 0
      while (i < cnt) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        md.reset()
        val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        out(m) = (v % buckets).toInt
        m += 1
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard similarity of two SORTED distinct long arrays (token /
    * shingle hashes) via a single merge walk — O(|a|+|b|), no allocation.
    * Equals string-set Jaccard up to 64-bit hash collisions (~2^-64/pair). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** 64-bit SimHash over the distinct whitespace-token set — bit-identical
    * to the declarative `Dedup.simhash64` (same tokenization, same
    * xxhash64(seed=42) per token, same ±1 vote rule). */
  def simhash64(text: UTF8String): Long = {
    val toks = splitTokens(text.toString)
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val h = XXH64.hashUTF8String(UTF8String.fromString(t), XXHASH_DEFAULT_SEED)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** minhash_signature(text, k, numHashes) → array<bigint>. */
case class MinHashSignatureExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = first.nullable

  override protected def nullSafeEval(text: Any, k: Any, n: Any): Any =
    TextHash.minhashSignature(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, n) =>
      s"graft.functions.TextHash.minhashSignature($t, $k, $n)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** ngram_hashes(text, n, distinct) → array<bigint>. */
case class NgramHashesExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = first.nullable

  override protected def nullSafeEval(text: Any, n: Any, distinct: Any): Any =
    TextHash.ngramHashes(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Int], distinct.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, d) =>
      s"graft.functions.TextHash.ngramHashes($t, $n, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** feat_buckets(text, nMax, buckets) → array<int>. */
case class FeatBucketsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = first.nullable

  override protected def nullSafeEval(text: Any, nMax: Any, buckets: Any): Any =
    TextHash.featBuckets(text.asInstanceOf[UTF8String],
      nMax.asInstanceOf[Int], buckets.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, b) =>
      s"graft.functions.TextHash.featBuckets($t, $n, $b)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** deletion_hashes(text, maxDist) → array<bigint>. */
case class DeletionHashesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override protected def nullSafeEval(text: Any, maxDist: Any): Any =
    TextHash.deletionHashes(text.asInstanceOf[UTF8String],
      maxDist.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, d) =>
      s"graft.functions.TextHash.deletionHashes($t, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** jaccard_sorted(sortedHashesA, sortedHashesB) → double. */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.jaccardSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** simhash64(text) → bigint. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(text: Any): Any =
    TextHash.simhash64(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextHash.simhash64($t)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The native function family, two ways in. Library code builds columns
  * with the typed constructors below: plain `Column`s over the Catalyst
  * expressions, so an operator needs nothing registered in its session
  * and leaves the session's function registry untouched. SQL text
  * (`Run sql`, `expr("graft_dot(a, b)")`) resolves the `graft_*` names,
  * which [[register]] (per session) or [[GraftExtensions]] (per deploy)
  * install from [[all]]. */
object GraftFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** `graft_minhash_signature`: `numHashes` minhashes over `k`-token
    * shingles → array<bigint>. */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    column(MinHashSignatureExpr(expression(text), Literal(k), Literal(numHashes)))

  /** `graft_ngram_hashes`: hashes of the `n`-token grams, deduplicated
    * when `distinct` → array<bigint>. */
  def ngramHashes(text: Column, n: Int, distinct: Boolean): Column =
    column(NgramHashesExpr(expression(text), Literal(n), Literal(distinct)))

  /** `graft_feat_buckets`: bucket ids of the 1..`nMax`-token grams → array<int>. */
  def featBuckets(text: Column, nMax: Int, buckets: Int): Column =
    column(FeatBucketsExpr(expression(text), Literal(nMax), Literal(buckets)))

  /** `graft_simhash64` → bigint. */
  def simhash64(text: Column): Column = column(SimHash64Expr(expression(text)))

  /** `graft_deletion_hashes`: xxhash64 of the ≤`maxDist`-deletion variants
    * → array<bigint>. */
  def deletionHashes(text: Column, maxDist: Int): Column =
    column(DeletionHashesExpr(expression(text), Literal(maxDist)))

  /** `graft_jaccard_sorted` of two sorted hash arrays → double. */
  def jaccardSorted(a: Column, b: Column): Column =
    column(JaccardSortedExpr(expression(a), expression(b)))

  /** `graft_dot` of two double arrays → double. */
  def dot(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))

  /** `graft_lsh_bucket`: `planes`-bit hyperplane signature → bigint. */
  def lshBucket(v: Column, planes: Int): Column =
    column(LshBucketExpr(expression(v), Literal(planes)))

  /** `graft_random_project` onto `outDim` planes → array<double>. */
  def randomProject(v: Column, outDim: Int): Column =
    column(RandomProjectExpr(expression(v), Literal(outDim)))

  /** `graft_bloom_agg`: Spark's `BloomFilterAggregate` over long values,
    * as an aggregate column → binary sketch. */
  def bloomAgg(value: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(value), Literal(expectedItems),
      Literal(numBits)).toAggregateExpression())

  /** `graft_bloom_contains`: membership probe of a long value against a
    * constant or scalar-subquery sketch → boolean. */
  def bloomContains(bloom: Column, value: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(value)))

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash_signature" -> (args => MinHashSignatureExpr(args(0), args(1), args(2))),
    "graft_ngram_hashes" -> (args => NgramHashesExpr(args(0), args(1), args(2))),
    "graft_feat_buckets" -> (args => FeatBucketsExpr(args(0), args(1), args(2))),
    "graft_simhash64" -> (args => SimHash64Expr(args.head)),
    "graft_deletion_hashes" -> (args => DeletionHashesExpr(args(0), args(1))),
    "graft_jaccard_sorted" -> (args => JaccardSortedExpr(args(0), args(1))),
    "graft_dot" -> (args => DotProductExpr(args(0), args(1))),
    "graft_lsh_bucket" -> (args => LshBucketExpr(args(0), args(1))),
    "graft_random_project" -> (args => RandomProjectExpr(args(0), args(1))),
    // Spark's own runtime-filter bloom expressions, exposed as callable
    // functions so the library can build EXPLICIT sketch-pruned joins
    // (Joins.bloomSemiJoin) rather than waiting for InjectRuntimeFilter's
    // heuristics: distributed build (TypedImperativeAggregate, partial
    // merge), codegen'd membership probe.
    "graft_bloom_agg" -> (args => new BloomFilterAggregate(args(0), args(1), args(2))),
    "graft_bloom_contains" -> (args => BloomFilterMightContain(args(0), args(1))))

  /** Idempotent per-session registration of the `graft_*` SQL names, for
    * SQL text and `call_function`; the typed constructors above need none. */
  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` registration:
  * the native function family plus the slice roll-up optimizer rule
  * ([[graft.plans.SliceRollupRule]] — sliding-window aggregations rewrite
  * to the shuffle-light two-level form automatically). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.SliceRollupRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
