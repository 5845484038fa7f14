package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hashing/similarity hot loops.
  *
  * Spark's higher-order functions (`transform`, `aggregate`,
  * `array_intersect`) are `CodegenFallback`: every lambda application
  * is an interpreted expression-tree walk with per-element boxing. For
  * the dedup kernels that means ~40 µs per hash — the MinHash
  * signature stage alone (128 hashes × ~50 shingles × corpus) ran 37 s
  * at sf0.1. These expressions do the same math in a tight JVM loop
  * over the columnar `ArrayData` ([[NativeKernels]]), and implement
  * `doGenCode` as a single static call, so the surrounding projection
  * stays inside one WholeStageCodegen span (a `CodegenFallback`
  * expression would split the span and interpret the whole projection
  * subtree). At 100 TB they are the difference between a CPU-bound
  * cluster and an I/O-bound one.
  *
  * Registered under `graft_*` SQL names by [[graft.fgac.GraftExtensions]]
  * (`injectFunction`), so they work from SQL and from
  * `functions.call_function` alike.
  */
object NativeExprs {

  private val K = "graft.functions.NativeKernels"

  /** Unary expressions whose codegen is one static kernel call. */
  private[functions] trait UnaryKernelCodegen { self: UnaryExpression =>
    /** Java expression computing the value from input variable `c`. */
    protected def kernelCall(c: String): String
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => kernelCall(c))
  }

  /** Sorted distinct xxhash64'd word-3-gram shingles of a text
    * column, in one native pass: lowercase → split(" ") → per-window
    * hash-chain of the three token hashes → dedup → sort. Replaces a
    * four-stage HOF pipeline (split/transform/array_distinct/
    * array_sort, each interpreted); downstream set ops use
    * [[JaccardSortedLong]] and [[MinHashFromHashes]] so shingle
    * *strings* are never materialized at all — at 100 TB the corpus
    * text is read once and only fixed-size longs ever leave the scan.
    * Token split matches `split(lower(text), ' ')` (empties kept). */
  case class ShingleHashes(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hashes"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.shingleHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def kernelCall(c: String): String =
      s"$K.shingleHashes($c)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Positional hashed w-token windows of a text column (substring
    * -level dedup primitive) — see [[NativeKernels.spanHashes]]:
    * element i = hash of tokens [i, i+w), position preserved so
    * shared hashes expand back into span coordinates. */
  case class SpanHashes(child: Expression, w: Int)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_span_hashes"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.spanHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], w)
    override protected def kernelCall(c: String): String =
      s"$K.spanHashes($c, $w)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** BPE encoding under a trained merge list (rank order, each entry
    * "a\u0000b") — see [[NativeKernels.bpeTokens]]. The merges are
    * PLAN metadata (a trained artifact, like the PQ codebooks), held
    * as a codegen reference object so the per-row cost is the encode
    * loop alone. */
  case class BpeTokens(child: Expression, merges: Seq[String])
      extends UnaryExpression {
    @transient private lazy val ranks =
      NativeKernels.bpeRanks(merges.toArray)
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_bpe_tokens"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.bpeTokens(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], ranks)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val r = ctx.addReferenceObj("bpeRanks", ranks,
        "java.util.HashMap<String, Integer>")
      defineCodeGen(ctx, ev, c => s"$K.bpeTokens($c, $r)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 128-wide MinHash signature over already-hashed shingles: element
    * k is min over the array of xxhash64(h, seed = k). Pairs with
    * [[ShingleHashes]]. */
  case class MinHashFromHashes(child: Expression, numHashes: Int)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_long"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.minHashFromHashes(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numHashes)
    override protected def kernelCall(c: String): String =
      s"$K.minHashFromHashes($c, $numHashes)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 128-wide MinHash signature of a distinct-string array: element k
    * is min over the array of xxhash64(x, seed = k). One pass per
    * element, all mins updated in registers. */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.minHashSignature(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numHashes)
    override protected def kernelCall(c: String): String =
      s"$K.minHashSignature($c, $numHashes)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 64-bit SimHash of a token array: per bit, sum ±1 by the token
    * hash's bit, take the sign. Single pass, 64 counters. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.simHash64(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def kernelCall(c: String): String =
      s"$K.simHash64($c)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Polynomial rolling fingerprint of a string, mod 1e9+7: h = 7;
    * per code point, h = (h*31 + cp) mod p. Matches the DuckDB
    * `list_reduce(ascii)` fold exactly (code points == bytes for
    * ASCII corpora), so the result is oracle-comparable across
    * engines — unlike xxhash64, whose seed/implementation is
    * Spark-private. Replaces an interpreted `aggregate(split(...))`
    * HOF fold (~1 lambda dispatch per char). */
  case class PolyFingerprint(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_polyfp"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.polyFingerprint(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def kernelCall(c: String): String =
      s"$K.polyFingerprint($c)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Winnowing-style minimum window fingerprint: min over all
    * `window`-code-point substrings of the [[PolyFingerprint]]
    * polynomial hash; texts shorter than the window hash whole.
    * O(window * n) primitive ops per row — native so the per-window
    * fold never hits the interpreted HOF path. Same cross-engine
    * contract as [[PolyFingerprint]]. */
  case class PolyMinWindow(child: Expression, window: Int)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_minwindow"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.polyMinWindow(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], window)
    override protected def kernelCall(c: String): String =
      s"$K.polyMinWindow($c, $window)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Exact Jaccard similarity of two string arrays treated as sets.
    * NaN when both are empty (matches `0/0` in double division, which
    * the HOF formulation produced). */
  case class JaccardSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaccard"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeKernels.jaccard(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.jaccard($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Binary expressions whose kernel returns a boxed Double, null
    * meaning SQL NULL (contract-violating inputs). */
  private[functions] trait BoxedDoubleKernelCodegen { self: BinaryExpression =>
    protected def kernelCall(a: String, b: String): String
    // eval returns NULL for contract-violating inputs even when the
    // child expressions are non-nullable
    override def nullable: Boolean = true
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("boxed")
        s"""
           |java.lang.Double $tmp = ${kernelCall(a, b)};
           |if ($tmp == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $tmp.doubleValue();
           |}
         """.stripMargin
      })
  }

  /** Jaccard similarity of two SORTED distinct long arrays via a
    * merge walk — no hashing, no allocation per pair. Used for the
    * O(block²) exact-Jaccard joins: shingles are hashed to 64-bit and
    * sorted once per document, so the per-pair cost drops to ~|A|+|B|
    * primitive compares. NaN when both are empty (0/0, as the HOF
    * formulation produced); NULL for inputs violating the
    * sorted-distinct-non-null contract. */
  case class JaccardSortedLong(left: Expression, right: Expression)
      extends BinaryExpression with BoxedDoubleKernelCodegen {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaccard_sorted"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeKernels.jaccardSorted(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def kernelCall(a: String, b: String): String =
      s"$K.jaccardSorted($a, $b)"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Dot product of two double arrays, sequential accumulation (same
    * IEEE evaluation order as the `aggregate(zip_with(...))` fold it
    * replaces, so results are bit-identical — including the NULL
    * result for length mismatches or NULL elements, which the fold
    * produced via zip_with padding). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with BoxedDoubleKernelCodegen {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeKernels.dot(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def kernelCall(a: String, b: String): String =
      s"$K.dot($a, $b)"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Bloom-filter membership of a 64-bit element hash against a
    * binary filter column (normally an 8–64 KB literal broadcast in
    * the plan): true iff all [[NativeKernels.BloomProbes]] probe bits
    * are set. The decontamination shape this enables at 100 TB: the
    * corpus side tests a few-KB bitset per gram — a map-side filter —
    * instead of shuffling every gram into a join against the
    * reference set. */
  case class BloomMightContain(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_contains"
    override protected def nullSafeEval(b: Any, h: Any): Any =
      NativeKernels.bloomContains(
        b.asInstanceOf[Array[Byte]], h.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.bloomContains($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Deletion-vector membership: bit `pos` of a little-endian bitmap
    * column (one ~N/8-byte bitmap per data file, joined to the scan by
    * file beyond [[graft.lakehouse.GraftTable]]'s positional-delete
    * gate) — an O(1) probe, not a per-deleted-row anti-join. */
  case class BitsetGet(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bitset_get"
    // any integral position works: interpreted eval widens through
    // Number; codegen widens the int/long primitive at the call site
    override protected def nullSafeEval(b: Any, p: Any): Any =
      NativeKernels.bitsetGet(b.asInstanceOf[Array[Byte]],
        p.asInstanceOf[Number].longValue)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.bitsetGet($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Positions array → deletion-vector bitmap (the write-side dual of
    * [[BitsetGet]]): applied over `collect_list(_pos)` per data file,
    * so a DELETE's per-file vector builds in one aggregate pass with
    * no sort and no driver round-trip. */
  case class BitsetFromPositions(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "graft_bitset_from_positions"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.bitsetFromPositions(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def kernelCall(c: String): String =
      s"$K.bitsetFromPositions($c)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Byte-wise OR of two bitmaps — merges a new DELETE's bits into a
    * file's existing deletion vector without expanding either side. */
  case class BitsetOr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "graft_bitset_or"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeKernels.bitsetOr(a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.bitsetOr($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** a AND NOT b of two bitmaps — the deletion-vector DIFF: applied
    * endpoint-to-endpoint, the surviving bits are exactly the rows
    * deleted (or, flipped, un-deleted) inside a changelog range. */
  case class BitsetAndNot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "graft_bitset_andnot"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeKernels.bitsetAndNot(a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.bitsetAndNot($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Ascending set-bit positions of a bitmap as ARRAY<BIGINT> — feeds
    * `explode` to turn a bitmap diff into (file, pos) changelog
    * keys. */
  case class BitsetPositions(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_bitset_positions"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.bitsetPositionsData(input.asInstanceOf[Array[Byte]])
    override protected def kernelCall(c: String): String =
      s"$K.bitsetPositionsData($c)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Set-bit count of a bitmap — a deletion vector's deleted-row
    * count from the blob alone, no data-file scan. */
  case class BitsetCardinality(child: Expression)
      extends UnaryExpression with UnaryKernelCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_bitset_cardinality"
    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.bitsetCardinality(input.asInstanceOf[Array[Byte]])
    override protected def kernelCall(c: String): String =
      s"$K.bitsetCardinality($c)"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Bloom membership against a bitset held as a SparkContext
    * BROADCAST, not a plan literal. [[BloomMightContain]] takes the
    * bitset as a column — which in practice means a byte-array
    * literal baked into the expression tree: fine at the 64 KB floor,
    * a cliff at the sizes bloom exists for (16 bits/element ⇒ a
    * ~200 MB literal at 10⁸ reference grams, re-serialized with
    * every task binary and hashed into every plan fingerprint). Here
    * the expression carries only the broadcast HANDLE (a few bytes in
    * the serialized plan); executors fetch the bitset blocks once per
    * JVM via the torrent broadcast, exactly like a broadcast-hash-join
    * relation. Not SQL-registered — a FunctionBuilder only composes
    * child Expressions and a broadcast is session state, so the typed
    * [[graft.dedup.Dedup]] call site constructs it directly. */
  case class BloomBroadcastContains(
      bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_contains_bcast"
    override protected def nullSafeEval(h: Any): Any =
      NativeKernels.bloomContains(bcast.value, h.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftBloomBc", bcast,
        "org.apache.spark.broadcast.Broadcast")
      defineCodeGen(ctx, ev, c =>
        s"$K.bloomContains((byte[])$ref.value(), $c)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  private def cast(e: Expression, to: DataType): Expression =
    if (e.dataType == to) e
    else org.apache.spark.sql.catalyst.expressions.Cast(e, to)

  /** Binary inputs pass through; anything else must already BE
    * binary — refuse at analysis, never reinterpret bytes. */
  private def asBin(e: Expression): Expression = cast(e, BinaryType)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[NativeExprs.type].getName, null, name, usage, "")

  /** (identifier, info, builder) triples for
    * `SparkSessionExtensions.injectFunction`. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("graft_minhash128"),
      info("graft_minhash128", "128-wide MinHash signature of a string array"),
      (args: Seq[Expression]) => MinHashSignature(args.head, 128)),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "64-bit SimHash of a token array"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    (FunctionIdentifier("graft_jaccard"),
      info("graft_jaccard", "exact Jaccard similarity of two string arrays"),
      (args: Seq[Expression]) => JaccardSim(args(0), args(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes",
        "sorted distinct hashed word-3-gram shingles of a text column"),
      (args: Seq[Expression]) => ShingleHashes(args.head)),
    (FunctionIdentifier("graft_span_hashes"),
      info("graft_span_hashes",
        "positional hashed w-token windows of a text column"),
      // w must be a foldable int literal: the window width is plan
      // metadata (it shapes the kernel), not per-row data
      (args: Seq[Expression]) => SpanHashes(args(0), {
        require(args(1).foldable,
          "graft_span_hashes: window width must be a literal")
        args(1).eval().asInstanceOf[Number].intValue()
      })),
    (FunctionIdentifier("graft_bpe_tokens"),
      info("graft_bpe_tokens",
        "BPE tokens of a text column under a literal merge list"),
      (args: Seq[Expression]) => BpeTokens(args(0), {
        require(args(1).foldable,
          "graft_bpe_tokens: the merge list must be a literal array")
        args(1).eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            (0 until a.numElements()).map(a.getUTF8String(_).toString)
          case other => throw new IllegalArgumentException(
            s"graft_bpe_tokens: unexpected merge list $other")
        }
      })),
    (FunctionIdentifier("graft_minhash128_long"),
      info("graft_minhash128_long",
        "128-wide MinHash signature over hashed shingles"),
      (args: Seq[Expression]) => MinHashFromHashes(args.head, 128)),
    // the SQL surface casts inputs to the kernels' exact types (an
    // ARRAY<INT> literal read through getLong would be silently
    // misread otherwise; ImplicitCastInputTypes is private[sql])
    (FunctionIdentifier("graft_bitset_get"),
      info("graft_bitset_get",
        "bit test against a little-endian bitmap (deletion vectors)"),
      (args: Seq[Expression]) => BitsetGet(asBin(args(0)),
        cast(args(1), LongType))),
    (FunctionIdentifier("graft_bitset_from_positions"),
      info("graft_bitset_from_positions",
        "little-endian bitmap with the given bigint positions set"),
      (args: Seq[Expression]) => BitsetFromPositions(
        cast(args.head, ArrayType(LongType)))),
    (FunctionIdentifier("graft_bitset_or"),
      info("graft_bitset_or", "byte-wise OR of two bitmaps"),
      (args: Seq[Expression]) => BitsetOr(asBin(args(0)), asBin(args(1)))),
    (FunctionIdentifier("graft_bitset_cardinality"),
      info("graft_bitset_cardinality", "set-bit count of a bitmap"),
      (args: Seq[Expression]) => BitsetCardinality(asBin(args.head))),
    (FunctionIdentifier("graft_bitset_andnot"),
      info("graft_bitset_andnot", "a AND NOT b of two bitmaps"),
      (args: Seq[Expression]) => BitsetAndNot(asBin(args(0)),
        asBin(args(1)))),
    (FunctionIdentifier("graft_bitset_positions"),
      info("graft_bitset_positions",
        "ascending set-bit positions of a bitmap as ARRAY<BIGINT>"),
      (args: Seq[Expression]) => BitsetPositions(asBin(args.head))),
    (FunctionIdentifier("graft_jaccard_sorted"),
      info("graft_jaccard_sorted",
        "Jaccard similarity of two sorted distinct bigint arrays"),
      (args: Seq[Expression]) => JaccardSortedLong(args(0), args(1))),
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "dot product of two double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("graft_polyfp"),
      info("graft_polyfp",
        "polynomial rolling fingerprint of a string, mod 1e9+7"),
      (args: Seq[Expression]) => PolyFingerprint(args.head)),
    (FunctionIdentifier("graft_minwindow8"),
      info("graft_minwindow8",
        "min polynomial hash over all 8-char windows of a string"),
      (args: Seq[Expression]) => PolyMinWindow(args.head, 8)),
    (FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains",
        "bloom membership of a bigint hash against a binary filter"),
      (args: Seq[Expression]) => BloomMightContain(args(0), args(1))))
}
