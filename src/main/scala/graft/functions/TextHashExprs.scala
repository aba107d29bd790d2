package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Tight-loop Catalyst expressions for the dedup hot path.
 *
 * The higher-order-function formulation (transform/aggregate lambdas) is
 * interpreted per element — ~3 µs of expression-tree overhead per trigram
 * per permutation. These expressions do the same work in one imperative
 * `eval` per row (tokenize → trigram-hash → permute), which measured
 * ~100× cheaper and keeps the dedup pipeline compute-bound instead of
 * interpreter-bound. Hashing uses Spark's own XXH64, seeded per
 * permutation — deterministic across runs and partitionings.
 *
 * (Preference order per the build charter: compose built-ins → custom
 * `Expression` → custom operator → mapPartitions. Minhash signatures are
 * scalar per-row work, so a custom Expression is the right rung.)
 */
object TextHashExprs {

  private val SEED = 42L

  /** Lowercased \W+-split tokens of a UTF8String (parity with
    * `graft.ops.Text.tokens`). */
  private def tokenize(s: UTF8String): Array[String] =
    // Locale.ROOT: default-locale lowercasing (e.g. Turkish dotless ı)
    // would make signatures machine-dependent
    s.toString.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty)

  private def hashString(s: String, seed: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
  }

  /** Distinct 64-bit hashes of word trigrams (whole-text hash when the
    * doc has fewer than 3 tokens). Output order: first occurrence. */
  case class TokenTrigramHashes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val words = tokenize(v.asInstanceOf[UTF8String])
      if (words.length < 3) {
        new GenericArrayData(Array(hashString(words.mkString(" "), SEED)))
      } else {
        val wh = new Array[Long](words.length)
        var i = 0
        while (i < words.length) { wh(i) = hashString(words(i), SEED); i += 1 }
        val seen = new mutable.LinkedHashSet[Long]
        i = 0
        while (i + 2 < words.length) {
          seen += XXH64.hashLong(wh(i + 2), XXH64.hashLong(wh(i + 1), wh(i)))
          i += 1
        }
        new GenericArrayData(seen.toArray)
      }
    }
    override def prettyName: String = "token_trigram_hashes"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** MinHash signature over a pre-hashed shingle array: element i is
    * min over shingles of XXH64(shingle, seed=i). */
  case class MinHashFromHashes(child: Expression, numPerm: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val hashes = v.asInstanceOf[ArrayData].toLongArray()
      val sig = new Array[Long](numPerm)
      var i = 0
      while (i < numPerm) {
        var best = Long.MaxValue
        var j = 0
        while (j < hashes.length) {
          val h = XXH64.hashLong(hashes(j), i.toLong)
          if (h < best) best = h
          j += 1
        }
        sig(i) = best
        i += 1
      }
      new GenericArrayData(sig)
    }
    override def prettyName: String = "minhash_from_hashes"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** LSH band keys over a minhash signature: key j hashes the j-th
    * contiguous slice of length numPerm/bands (seed-chained XXH64, the
    * same per-element scheme Spark's `xxhash64(j, slice(...))` uses).
    * Band keys only need SELF-consistency within a run — both sides of
    * the candidate self-join and the stream/corpus pair use this same
    * function — so the exact constants are an implementation detail;
    * artifact fingerprints carry a version bump (`bands-v2`) so
    * checkpoints from the HOF formulation can never be reused. One
    * imperative eval per row replaces bands interpreted lambda calls +
    * slice allocations per row. */
  case class BandKeysExpr(child: Expression, numPerm: Int, bands: Int)
      extends UnaryExpression with CodegenFallback {
    // r04 review: bands > numPerm made r = 0 — every doc emitted the
    // same constant band keys and the LSH candidate join degenerated to
    // an O(n²) cross product; a non-dividing numPerm silently ignored
    // the trailing permutations. Both are configuration errors.
    require(bands >= 1 && numPerm >= bands && numPerm % bands == 0,
      s"band_keys: numPerm ($numPerm) must be a positive multiple of bands ($bands)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val sig = v.asInstanceOf[ArrayData]
      val r = numPerm / bands
      val out = new Array[Long](bands)
      var j = 0
      while (j < bands) {
        var h = XXH64.hashInt(j, SEED)
        var i = 0
        while (i < r) { h = XXH64.hashLong(sig.getLong(j * r + i), h); i += 1 }
        out(j) = h
        j += 1
      }
      new GenericArrayData(out)
    }
    override def prettyName: String = "band_keys"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** 64-bit SimHash of a text: every token votes ±1 on each bit of its
    * hash; vote-total signs become the signature bits. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val words = tokenize(v.asInstanceOf[UTF8String])
      val votes = new Array[Int](64)
      var i = 0
      while (i < words.length) {
        val h = hashString(words(i), SEED)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
    override def prettyName: String = "simhash64"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** Random-hyperplane LSH buckets of a float-vector: element t is the
    * `bits`-bit signature of signs of projections onto deterministic ±1
    * hyperplanes (seeded per (table, bit, dim) via XXH64). One tight
    * loop per row — the interpreted-lambda formulation costs
    * tables·bits·dim expression evals. */
  case class RhpBuckets(child: Expression, tables: Int, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes() = checkVectorInput("rhp_buckets", child)
    @transient private lazy val rd = elemReader(child.dataType)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val dim = arr.numElements()
      val vec = new Array[Double](dim)
      var i = 0
      while (i < dim) { vec(i) = if (arr.isNullAt(i)) 0.0 else rd(arr, i); i += 1 }
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var b = 0
        while (b < bits) {
          var proj = 0.0
          var d = 0
          while (d < dim) {
            val sign = if ((XXH64.hashLong((t.toLong << 32) | (b.toLong << 16) | d.toLong, SEED) & 1L) == 1L) 1.0 else -1.0
            proj += vec(d) * sign
            d += 1
          }
          if (proj > 0) bucket |= (1L << b)
          b += 1
        }
        out(t) = bucket
        t += 1
      }
      new GenericArrayData(out)
    }
    override def prettyName: String = "rhp_buckets"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** Element reader matched to the ACTUAL array element type. A static
    * float-vs-double guess reads garbage off int/long/decimal storage
    * (ADVICE r02, medium): ArrayData.getDouble on non-double backing is
    * undefined. Unsupported element types are rejected at analysis time
    * via `checkVectorInput`. */
  private def elemReader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _) => (a, i) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case ArrayType(LongType, _) => (a, i) => a.getLong(i).toDouble
    case ArrayType(ShortType, _) => (a, i) => a.getShort(i).toDouble
    case ArrayType(ByteType, _) => (a, i) => a.getByte(i).toDouble
    case ArrayType(d: DecimalType, _) =>
      (a, i) => a.getDecimal(i, d.precision, d.scale).toDouble
    case _ => null
  }

  private def checkVectorInput(name: String, inputs: Expression*)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    inputs.find(e => elemReader(e.dataType) == null) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$name expects numeric array inputs, got ${bad.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** Stricter variant for the fully-codegen'd similarity expressions:
    * primitive numeric element types only. Decimal arrays would force a
    * CodegenFallback mixin, and ANY CodegenFallback instance disqualifies
    * the enclosing operator from whole-stage codegen (verified against
    * CollapseCodegenStages.supportCodegen in Spark 4.1.2) — exactly the
    * operator fusion the ANN hot path needs. Nobody stores embeddings as
    * decimal; a clear analysis error beats losing WSCG for everyone. */
  private def checkPrimitiveVectorInput(name: String, inputs: Expression*)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    inputs.find(e => elemJava(e.dataType, "a", "i") == null) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$name expects a primitive numeric array " +
        s"(float/double/int/long/short/byte elements), got ${bad.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** Java source for reading element `i` of `arr` as double, or null for
    * element types (decimal) that stay on the interpreted path. Used by
    * the vector expressions' real `doGenCode`: the CodegenFallback route
    * costs a boxed reflective call per ROW, which dominates the ~64-FLOP
    * loop body of a dot product — inlining the loop into whole-stage
    * codegen removes exactly that overhead on the ANN hot path. */
  private def elemJava(dt: DataType, arr: String, i: String): String = dt match {
    case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
    case ArrayType(DoubleType, _) => s"$arr.getDouble($i)"
    case ArrayType(IntegerType, _) => s"(double) $arr.getInt($i)"
    case ArrayType(LongType, _) => s"(double) $arr.getLong($i)"
    case ArrayType(ShortType, _) => s"(double) $arr.getShort($i)"
    case ArrayType(ByteType, _) => s"(double) $arr.getByte($i)"
    case _ => null
  }

  /** One-pass cosine similarity between two numeric vectors. Accumulates
    * dot / ‖a‖² / ‖b‖² left-to-right in doubles — bit-identical to the
    * former `aggregate(zip_with(...))` formulation (same additions, same
    * order) but one imperative eval per pair instead of ~3·dim interpreted
    * lambda calls. This was the VERDICT r01 top perf item: x06 spent 18 s
    * interpreting lambdas for 10k cosine pairs. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes() = checkPrimitiveVectorInput("cosine_sim", left, right)
    @transient private lazy val la = elemReader(left.dataType)
    @transient private lazy val rb = elemReader(right.dataType)
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      // length mismatch ⇒ null, not a silently-truncated similarity
      // (r04 review: min-length truncation made mixed-dim corruption
      // invisible; zip_with null-padded and poisoned the fold to null)
      if (n != b.numElements()) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        // null element ⇒ null result (the aggregate(zip_with(...)) fold
        // this expression replaced propagated nulls the same way)
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = la(a, i)
        val y = rb(b, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      // zero-norm vector ⇒ null: 0/0 = NaN sorts ABOVE every real sim
      // in Spark, so one zero vector would rank first for every query
      // and pass >= thresholds (r04 review); null drops out instead
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) return null
      dot / den
    }
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val bad = ctx.freshName("bad")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val den = ctx.freshName("den")
        s"""
           |int $n = $a.numElements();
           |boolean $bad = $n != $b.numElements();
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |if (!$bad) {
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
           |    double $x = ${elemJava(left.dataType, a, i)};
           |    double $y = ${elemJava(right.dataType, b, i)};
           |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |  }
           |}
           |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |$bad = $bad || $den == 0.0;
           |${ev.isNull} = $bad;
           |${ev.value} = $bad ? 0.0 : $dot / $den;
         """.stripMargin
      })
    }
    override def prettyName: String = "cosine_sim"
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** Σ aᵢ·bᵢ, left-to-right in doubles. Pair with precomputed `VecNorm`
    * columns so re-rank joins compute one fused multiply-add pass per
    * candidate instead of recomputing both norms per pair. */
  case class DotProd(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes() = checkPrimitiveVectorInput("dot_prod", left, right)
    @transient private lazy val la = elemReader(left.dataType)
    @transient private lazy val rb = elemReader(right.dataType)
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null // see CosineSim: no truncation
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        dot += la(a, i) * rb(b, i)
        i += 1
      }
      dot
    }
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val bad = ctx.freshName("bad")
        s"""
           |int $n = $a.numElements();
           |boolean $bad = $n != $b.numElements();
           |double $dot = 0.0;
           |if (!$bad) {
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
           |    $dot += ${elemJava(left.dataType, a, i)} * ${elemJava(right.dataType, b, i)};
           |  }
           |}
           |${ev.isNull} = $bad;
           |${ev.value} = $dot;
         """.stripMargin
      })
    }
    override def prettyName: String = "dot_prod"
    override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  }

  /** ‖v‖₂ = sqrt(Σ vᵢ²), left-to-right in doubles — identical value to
    * `sqrt(DotProd(v, v))`. Computed once per row, not once per pair. */
  case class VecNorm(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes() = checkPrimitiveVectorInput("vec_norm", child)
    @transient private lazy val rd = elemReader(child.dataType)
    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = rd(a, i); s += x * x
        i += 1
      }
      math.sqrt(s)
    }
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val bad = ctx.freshName("bad")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $s = 0.0;
           |boolean $bad = false;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { $bad = true; break; }
           |  double $x = ${elemJava(child.dataType, a, i)};
           |  $s += $x * $x;
           |}
           |${ev.isNull} = $bad;
           |${ev.value} = java.lang.Math.sqrt($s);
         """.stripMargin
      })
    }
    override def prettyName: String = "vec_norm"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** Deflate compression ratio (compressed bytes / raw bytes, @9) of a
    * string — the classic repetitiveness/quality proxy (highly
    * compressible text is templated or degenerate; near-random text
    * ratios toward 1). Empty strings yield null (no ratio exists).
    * Deterministic per JVM build ([[Zlib]]'s contract), not
    * SQL-restatable — consumed by a rows-only row plus an invariant
    * hard oracle. Codegen'd: the loop lives in [[Zlib]] behind a
    * per-thread Deflater, the generated code is one static call. */
  case class DeflateRatio(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes() = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("deflate_ratio needs a string")
    }
    override def nullSafeEval(s: Any): Any = {
      val b = s.asInstanceOf[UTF8String].getBytes
      if (b.length == 0) null else Zlib.ratio(b)
    }
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      nullSafeCodeGen(ctx, ev, s => {
        val b = ctx.freshName("b")
        s"""
           |byte[] $b = $s.getBytes();
           |${ev.isNull} = ($b.length == 0);
           |${ev.value} = ${ev.isNull} ? 0.0 : graft.functions.Zlib.ratio($b);
         """.stripMargin
      })
    }
    override def prettyName: String = "deflate_ratio"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** Unicode NFC canonicalization (java.text.Normalizer — the JDK's
    * ICU-derived tables): composed and decomposed spellings of the same
    * text ("café" as U+00E9 vs "e"+U+0301) map to one canonical byte
    * form. The missing layer UNDER [[graft.ops.Dedup.normalized]]'s
    * ASCII-punctuation pass — byte-exact dedup treats canonically-equal
    * strings as distinct without it. Already-NFC text (ASCII in
    * particular) round-trips unchanged; the JDK checks `isNormalized`
    * internally, so the common case is a scan, not a rebuild. */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes() = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("nfc_normalize needs a string")
    }
    override def nullSafeEval(s: Any): Any =
      UTF8String.fromString(java.text.Normalizer.normalize(
        s.asInstanceOf[UTF8String].toString,
        java.text.Normalizer.Form.NFC))
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, s =>
        s"UTF8String.fromString(java.text.Normalizer.normalize(" +
          s"$s.toString(), java.text.Normalizer.Form.NFC))")
    override def prettyName: String = "nfc_normalize"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /**
   * Per-document Shannon entropy of the CHARACTER (codepoint)
   * distribution — the classic gibberish / low-diversity quality signal
   * (encoding damage, keyboard-mash and single-char padding sit near 0;
   * natural single-script text sits in a narrow band). One local pass
   * per row: no shuffle, no aggregate, no state.
   *
   * Cross-engine determinism: H = ln(n) − (Σ c·ln c)/n over codepoint
   * counts c. Each ln rounds @7 (the pinned-ln contract), each term
   * `c · round(ln c, 7)` is one IEEE double multiply rounded @9 and
   * accumulated EXACTLY in BigDecimal (order-independent, so the local
   * hash-map iteration order cannot leak); the final expression reports
   * @6 with −0.0 normalized (`+ 0.0`). The oracle restates the same
   * arithmetic over DuckDB's per-char unnest.
   *
   * Emits `struct(n_cp, n_distinct_cp, entropy)`; null input → null row
   * (UnaryExpression contract); callers filter empty text (ln 0 is
   * undefined — a zero-length doc has no distribution to score).
   */
  case class CharEntropy(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow

    override def dataType: DataType = StructType(Seq(
      StructField("n_cp", LongType, nullable = false),
      StructField("n_distinct_cp", LongType, nullable = false),
      StructField("entropy", DoubleType, nullable = false)))

    override def checkInputDataTypes() = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("char_entropy needs a string")
    }

    private def r(x: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val counts = mutable.HashMap.empty[Int, Long]
      var i = 0; var n = 0L
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts.update(cp, counts.getOrElse(cp, 0L) + 1L)
        n += 1
        i += Character.charCount(cp)
      }
      if (n == 0L) InternalRow(0L, 0L, 0.0)
      else {
        var sm = java.math.BigDecimal.ZERO
        val it = counts.valuesIterator
        while (it.hasNext) {
          val c = it.next().toDouble
          sm = sm.add(java.math.BigDecimal.valueOf(r(c * r(Math.log(c), 7), 9)))
        }
        val h = r(r(Math.log(n.toDouble), 7) - sm.doubleValue() / n.toDouble, 6) + 0.0
        InternalRow(n, counts.size.toLong, h)
      }
    }
    override def prettyName: String = "char_entropy"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** Per-dimension standardization `(round9(x) − μᵢ) / σᵢ` rounded @9 —
    * the codegen form of `Similarity.standardize`'s per-element
    * arithmetic, bit-identical to the HOF formulation (the same
    * `BigDecimal.valueOf` HALF_UP rounding Spark's `round` applies to
    * finite doubles, the same IEEE subtract/divide) but one imperative
    * loop inside WSCG instead of an interpreted expression-tree walk
    * per element. `means`/`denoms` are FOLDABLE literal arrays
    * (driver-computed whitening stats — dim-count doubles, the
    * IVF-centroid precedent). A vector whose length disagrees with the
    * stats, or with a null element, yields null (it cannot be
    * standardized). Stats are validated at ANALYSIS time (ADVICE r07):
    * non-foldable means/denoms previously NPE'd in `eval(null)` and a
    * zero denominator silently emitted Infinity — both now fail the
    * type check with a real message before any row runs. */
  case class VecStandardize(vec: Expression, meansE: Expression,
      denomsE: Expression) extends TernaryExpression {
    override def first: Expression = vec
    override def second: Expression = meansE
    override def third: Expression = denomsE
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes() = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      val base = checkPrimitiveVectorInput("vec_standardize", vec)
      if (base != TypeCheckResult.TypeCheckSuccess) base
      else if (!meansE.foldable || !denomsE.foldable)
        TypeCheckResult.TypeCheckFailure(
          "vec_standardize expects FOLDABLE (literal) means/denoms stats arrays")
      else (meansE.dataType, denomsE.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
          (meansE.eval(null), denomsE.eval(null)) match {
            case (null, _) | (_, null) => TypeCheckResult.TypeCheckFailure(
              "vec_standardize stats arrays must not be null")
            case (mv: ArrayData, dv: ArrayData) =>
              if (mv.numElements() != dv.numElements())
                TypeCheckResult.TypeCheckFailure(
                  s"vec_standardize means (${mv.numElements()}) and denoms " +
                  s"(${dv.numElements()}) lengths disagree")
              else {
                var bad = -1
                var i = 0
                while (i < dv.numElements() && bad < 0) {
                  if (mv.isNullAt(i) || dv.isNullAt(i) ||
                      !(dv.getDouble(i) > 0.0)) bad = i
                  i += 1
                }
                if (bad >= 0) TypeCheckResult.TypeCheckFailure(
                  s"vec_standardize stats invalid at index $bad: means/denoms " +
                  "must be non-null with denoms > 0 (a zero denominator would " +
                  "emit Infinity)")
                else TypeCheckResult.TypeCheckSuccess
              }
          }
        case _ => TypeCheckResult.TypeCheckFailure(
          "vec_standardize stats must be array<double>, got " +
          s"${meansE.dataType.catalogString} / ${denomsE.dataType.catalogString}")
      }
    }

    @transient private lazy val means: Array[Double] =
      meansE.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    @transient private lazy val denoms: Array[Double] =
      denomsE.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    @transient private lazy val rd = elemReader(vec.dataType)

    private def round9(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

    override def nullSafeEval(v: Any, m: Any, d: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != means.length) return null
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        out(i) = round9((round9(rd(a, i)) - means(i)) / denoms(i))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val meansRef = ctx.addReferenceObj("vstdMeans", means, "double[]")
      val denomsRef = ctx.addReferenceObj("vstdDenoms", denoms, "double[]")
      val fn = ctx.freshName("round9Vstd")
      val r9 = ctx.addNewFunction(fn,
        s"""
           |private double $fn(double x) {
           |  if (Double.isNaN(x) || Double.isInfinite(x)) return x;
           |  return java.math.BigDecimal.valueOf(x)
           |    .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue();
           |}
         """.stripMargin)
      nullSafeCodeGen(ctx, ev, (a, _, _) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val bad = ctx.freshName("bad"); val out = ctx.freshName("out")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |boolean $bad = ($n != $meansRef.length);
           |double[] $out = $bad ? null : new double[$n];
           |for (int $i = 0; !$bad && $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { $bad = true; break; }
           |  double $x = ${elemJava(vec.dataType, a, i)};
           |  $out[$i] = $r9(($r9($x) - $meansRef[$i]) / $denomsRef[$i]);
           |}
           |${ev.isNull} = $bad;
           |${ev.value} = $bad ? null
           |  : new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }
    override def prettyName: String = "vec_standardize"
    override protected def withNewChildrenInternal(f: Expression,
        s: Expression, t: Expression) = copy(f, s, t)
  }

  /** Symmetric integer quantization audit for a numeric vector: one pass
    * finds max|v|, a second derives scale = max|v| / levels, qᵢ =
    * floor(vᵢ/scale + 0.5) (round-half-up — `floor(x+0.5)` is the same
    * double op in the JVM and DuckDB, unlike `round` whose half-even/
    * half-away conventions diverge), Σqᵢ, and max|vᵢ − qᵢ·scale|. Emits
    * struct(scale, q_sum, max_abs_err); the op layer (`graft.ops
    * .Quantization`) consumes it through the one-eval `inline` barrier.
    * All-zero vectors quantize to all-zero codes (scale 0 ⇒ q ≡ 0, err 0);
    * empty or null-element vectors yield null. No clamp: |vᵢ/scale| ≤
    * levels by construction and fp division error is ≪ the 0.5 rounding
    * margin, so codes never exceed ±levels. Every accumulation is
    * order-insensitive (max, Σ of exact small integers in doubles), so the
    * result is bit-identical across partitionings AND engines — that is
    * what makes the x29 oracle a hard hash compare. */
  /** Upper-triangle pair-moment terms for the covariance/correlation
    * aggregate: per row, `dims·(dims+1)/2` structs
    * `(i, j, p = round9(x_i·x_j), xi)` with each `x` read from the
    * leading `dims` elements and rounded @9 at source — one imperative
    * loop per row replacing a nested `transform` whose lambdas run
    * interpreted per pair (measured ~3× the whole query's runtime at
    * sf0.1). Rounding is BigDecimal HALF_UP, bit-identical to Spark's
    * `round(_, 9)` and DuckDB's `ROUND(_, 9)` (the x72 convention).
    * Null or shorter-than-`dims` input → null row (the op layer filters
    * those up front).
    *
    * 4-field structs, no `xj` (r12 optimization round, VERDICT r11 #5):
    * since the r11 slim `fitMoments` every consumer reads (i, j, p, xi)
    * only — the mean sums come from the DIAGONAL rows, where xi == xj by
    * construction — so the fifth field was d·(d+1)/2 dead boxed doubles
    * allocated per corpus row. */
  case class PairTerms(child: Expression, dims: Int)
      extends UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("p", DoubleType, nullable = false),
      StructField("xi", DoubleType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes() =
      checkPrimitiveVectorInput("pair_terms", child)
    @transient private lazy val rd = elemReader(child.dataType)

    private def round9(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() < dims) return null
      val x = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        if (a.isNullAt(i)) return null
        x(i) = round9(rd(a, i))
        i += 1
      }
      val out = new Array[AnyRef](dims * (dims + 1) / 2)
      var idx = 0
      i = 0
      while (i < dims) {
        var j = i
        while (j < dims) {
          out(idx) = new GenericInternalRow(Array[Any](
            i + 1, j + 1, round9(x(i) * x(j)), x(i)))
          idx += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val fn = ctx.freshName("round9Pt")
      val r9 = ctx.addNewFunction(fn,
        s"""
           |private double $fn(double x) {
           |  if (Double.isNaN(x) || Double.isInfinite(x)) return x;
           |  return java.math.BigDecimal.valueOf(x)
           |    .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue();
           |}
         """.stripMargin)
      nullSafeCodeGen(ctx, ev, a => {
        val bad = ctx.freshName("bad"); val x = ctx.freshName("x")
        val out = ctx.freshName("out"); val idx = ctx.freshName("idx")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        s"""
           |boolean $bad = ($a.numElements() < $dims);
           |double[] $x = $bad ? null : new double[$dims];
           |for (int $i = 0; !$bad && $i < $dims; $i++) {
           |  if ($a.isNullAt($i)) { $bad = true; break; }
           |  $x[$i] = $r9(${elemJava(child.dataType, a, i)});
           |}
           |Object[] $out = $bad ? null
           |  : new Object[${dims * (dims + 1) / 2}];
           |if (!$bad) {
           |  int $idx = 0;
           |  for (int $i = 0; $i < $dims; $i++) {
           |    for (int $j = $i; $j < $dims; $j++) {
           |      $out[$idx++] =
           |        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |          new Object[]{ $i + 1, $j + 1, $r9($x[$i] * $x[$j]),
           |            $x[$i] });
           |    }
           |  }
           |}
           |${ev.isNull} = $bad;
           |${ev.value} = $bad ? null
           |  : new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }
    override def prettyName: String = "pair_terms"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class QuantStats(child: Expression, levels: Int)
      extends UnaryExpression {
    import org.apache.spark.sql.catalyst.InternalRow
    override def dataType: DataType = QuantStatsSchema.schema
    override def nullable: Boolean = true
    override def checkInputDataTypes() = checkPrimitiveVectorInput("quant_stats", child)
    @transient private lazy val rd = elemReader(child.dataType)
    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n == 0) return null
      var mx = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        val ax = math.abs(rd(a, i)); if (ax > mx) mx = ax
        i += 1
      }
      val scale = mx / levels
      var qsum = 0L; var err = 0.0
      i = 0
      while (i < n) {
        val x = rd(a, i)
        val q = if (scale == 0.0) 0.0 else math.floor(x / scale + 0.5)
        qsum += q.toLong
        val e = math.abs(x - q * scale); if (e > err) err = e
        i += 1
      }
      InternalRow(scale, qsum, err)
    }
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val mx = ctx.freshName("mx"); val scale = ctx.freshName("scale")
        val qsum = ctx.freshName("qsum"); val err = ctx.freshName("err")
        val x = ctx.freshName("x"); val q = ctx.freshName("q")
        val e = ctx.freshName("e"); val bad = ctx.freshName("bad")
        val rowCls = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
        s"""
           |int $n = $a.numElements();
           |boolean $bad = $n == 0;
           |double $mx = 0.0;
           |for (int $i = 0; $i < $n && !$bad; $i++) {
           |  if ($a.isNullAt($i)) { $bad = true; break; }
           |  double $x = java.lang.Math.abs(${elemJava(child.dataType, a, i)});
           |  if ($x > $mx) $mx = $x;
           |}
           |double $scale = $mx / $levels;
           |long $qsum = 0L; double $err = 0.0;
           |if (!$bad) {
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $x = ${elemJava(child.dataType, a, i)};
           |    double $q = $scale == 0.0 ? 0.0 : java.lang.Math.floor($x / $scale + 0.5);
           |    $qsum += (long) $q;
           |    double $e = java.lang.Math.abs($x - $q * $scale);
           |    if ($e > $err) $err = $e;
           |  }
           |}
           |${ev.isNull} = $bad;
           |${ev.value} = new $rowCls(new Object[]{$scale, $qsum, $err});
         """.stripMargin
      })
    }
    override def prettyName: String = "quant_stats"
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  object QuantStatsSchema {
    val schema: StructType = StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("q_sum", LongType, nullable = false),
      StructField("max_abs_err", DoubleType, nullable = false)))
  }

  /** nprobe nearest centroid ids (ascending L2 distance) for a float
    * vector. The centroid matrix rides as a foldable nested-array literal
    * decoded once per executor — inlining it as 1000+ Literal nodes makes
    * codegen explode and interpretation crawl. */
  case class NearestCentroids(vec: Expression, cents: Expression, probes: Expression)
      extends TernaryExpression with CodegenFallback {
    override def first: Expression = vec
    override def second: Expression = cents
    override def third: Expression = probes
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true // null on dim-mismatch / NaN vectors
    override def checkInputDataTypes() = checkVectorInput("nearest_centroids", vec)

    @transient private lazy val centroids: Array[Array[Double]] = {
      val ad = cents.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
    }
    @transient private lazy val np: Int = probes.eval(null).asInstanceOf[Int]
    @transient private lazy val rd = elemReader(vec.dataType)

    override def nullSafeEval(v: Any, c: Any, p: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val dim = arr.numElements()
      // a vector whose dim disagrees with the index's centroids cannot be
      // assigned — null (dropped downstream), not an out-of-bounds read
      // (r04 review)
      if (centroids.nonEmpty && centroids(0).length != dim) return null
      val x = new Array[Double](dim)
      var i = 0
      while (i < dim) { x(i) = if (arr.isNullAt(i)) 0.0 else rd(arr, i); i += 1 }
      val k = centroids.length
      val dist = new Array[Double](k)
      var cIdx = 0
      while (cIdx < k) {
        val cv = centroids(cIdx)
        var s = 0.0
        var d = 0
        while (d < dim) { val diff = x(d) - cv(d); s += diff * diff; d += 1 }
        dist(cIdx) = s
        cIdx += 1
      }
      val n = math.min(np, k)
      val out = new Array[Int](n)
      val used = new Array[Boolean](k)
      var r = 0
      while (r < n) {
        var best = -1
        var bd = Double.MaxValue
        var j = 0
        while (j < k) { if (!used(j) && dist(j) < bd) { bd = dist(j); best = j }; j += 1 }
        // all remaining distances NaN (NaN vector element): nothing
        // comparable to assign — null instead of used(-1) AIOOBE
        if (best < 0) return null
        used(best) = true
        out(r) = best
        r += 1
      }
      new GenericArrayData(out)
    }
    override def prettyName: String = "nearest_centroids"
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(a, b, c)
  }

  /** Stopword lists for the language-ID heuristic — field order here IS
    * the struct field order of `TextMetrics` (en, fr, es, de, zh). */
  val stopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "en", "que"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "en", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "von", "zu", "mit"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  private val stopJava: Array[java.util.HashSet[String]] = stopWords.map { case (_, ws) =>
    val s = new java.util.HashSet[String](); ws.foreach(s.add); s
  }.toArray

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue() = java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  /**
   * All per-document text metrics in ONE pass: two code-point scans
   * (original + lowercased text), zero regex, zero interpreted lambdas.
   *
   * This replaces the r02 text-analysis family's interpreted-HOF plans
   * (VERDICT r02 "What's wrong" #2: languageId evaluated a 5-language
   * scored array twice per row because CollapseProject inlines the
   * array into every call site; quality/tokenCounts ran ~10 regex +
   * lambda passes per row). Consumed through the `inline` generator so
   * the expression is structurally evaluated once per row.
   *
   * Semantics are pinned to the Catalyst formulations they replace
   * (which the x08–x11 DuckDB oracles verify):
   *  - a "word char" is ASCII `[A-Za-z0-9_]` — Java/RE2 `\w` without
   *    UNICODE_CHARACTER_CLASS, as in the previous regexp_extract_all;
   *  - "space" is Java `\s` = `[ \t\n\x0B\f\r]`;
   *  - n_char counts CODE POINTS (Spark `length` = UTF8String.numChars);
   *  - tokens of the LOWERCASED text (Locale.ROOT — same as the other
   *    expressions here) feed n_toks/tok_len_sum/stop hits/fingerprint;
   *    tokens of the ORIGINAL text feed n_tokens (parity with
   *    `regexp_extract_all(text, '\\w+')`);
   *  - ws_tokens counts maximal runs of non-`' '` chars (parity with
   *    `split(text, " ")` + drop-empties — tabs are NOT separators);
   *  - re_tokens = n_tokens + n_punct: the regex `\\w+|[^\\w\\s]`
   *    consumes a full word run or a single non-word-non-space char;
   *  - fingerprint = md5 hex of the ' '-joined SORTED DISTINCT token
   *    set; tokens are ASCII-only (word chars), so Java natural String
   *    order equals UTF8 binary order (`sort_array` parity).
   */
  case class TextMetrics(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow

    override def dataType: DataType = TextMetricsSchema.schema

    override def checkInputDataTypes() = child.dataType match {
      case _: StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"text_metrics expects STRING, got ${other.catalogString}")
    }

    private def isWord(cp: Int): Boolean =
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= '0' && cp <= '9') || cp == '_'

    private def isSpace(cp: Int): Boolean =
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString

      // pass 1 — original text: n_char, \w+ runs, punct, space-split
      // runs, CJK code points (U+4E00–U+9FFF: the unified-ideographs
      // block — \w is ASCII in both Java and RE2, so CJK text has NO
      // word tokens and needs its own char-ratio signal for language ID,
      // r04 review)
      var nChar = 0; var nTokens = 0; var nPunct = 0; var wsTokens = 0; var nCjk = 0
      var inWord = false; var inWs = false
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        nChar += 1
        val w = isWord(cp)
        if (w && !inWord) nTokens += 1
        if (!w && !isSpace(cp)) nPunct += 1
        if (cp >= 0x4E00 && cp <= 0x9FFF) nCjk += 1
        inWord = w
        val ns = cp != ' '
        if (ns && !inWs) wsTokens += 1
        inWs = ns
        i += Character.charCount(cp)
      }

      // pass 2 — lowercased text: token stream for types/stops/fingerprint
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val distinct = new java.util.TreeSet[String]()
      val hits = new Array[Int](stopJava.length)
      var nToks = 0; var tokLenSum = 0L
      val tok = new java.lang.StringBuilder(32)
      def flush(): Unit = if (tok.length > 0) {
        val t = tok.toString
        nToks += 1
        tokLenSum += t.length // word chars are ASCII: length == code points
        distinct.add(t)
        var l = 0
        while (l < stopJava.length) { if (stopJava(l).contains(t)) hits(l) += 1; l += 1 }
        tok.setLength(0)
      }
      i = 0
      while (i < lower.length) {
        val cp = lower.codePointAt(i)
        if (isWord(cp)) tok.appendCodePoint(cp) else flush()
        i += Character.charCount(cp)
      }
      flush()

      // fingerprint: md5 of the sorted distinct token set
      val joined = new java.lang.StringBuilder
      val it = distinct.iterator()
      while (it.hasNext) { if (joined.length > 0) joined.append(' '); joined.append(it.next()) }
      val md = md5Local.get()
      md.reset()
      val digest = md.digest(joined.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var d = 0
      while (d < 16) {
        hex(d * 2) = HEX((digest(d) >> 4) & 0xF); hex(d * 2 + 1) = HEX(digest(d) & 0xF)
        d += 1
      }

      InternalRow(
        nChar, nTokens, distinct.size(), nPunct, wsTokens, nTokens + nPunct,
        nToks, tokLenSum,
        hits(0), hits(1), hits(2), hits(3), hits(4),
        UTF8String.fromString(new String(hex)), nCjk)
    }
    override def prettyName: String = "text_metrics"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  object TextMetricsSchema {
    val schema: StructType = StructType(Seq(
      StructField("n_char", IntegerType, nullable = false),
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_types", IntegerType, nullable = false),
      StructField("n_punct", IntegerType, nullable = false),
      StructField("ws_tokens", IntegerType, nullable = false),
      StructField("re_tokens", IntegerType, nullable = false),
      StructField("n_toks", IntegerType, nullable = false),
      StructField("tok_len_sum", LongType, nullable = false),
      StructField("stop_en", IntegerType, nullable = false),
      StructField("stop_fr", IntegerType, nullable = false),
      StructField("stop_es", IntegerType, nullable = false),
      StructField("stop_de", IntegerType, nullable = false),
      StructField("stop_zh", IntegerType, nullable = false),
      StructField("fingerprint", StringType, nullable = false),
      StructField("n_cjk", IntegerType, nullable = false)))
  }

  /**
   * One-pass repetition counters behind `TextAnalysis.repetition`
   * (Gopher-style boilerplate signals: Rae et al. 2021 §A1.1 — duplicate
   * lines, most-frequent word n-grams, duplicated 5-grams). Emits raw
   * COUNTS; the op layer derives the published ratios with codegen'd
   * column math, so rounding happens in exactly one place (same division
   * of labor as TextMetrics, and the same one-eval `inline` barrier
   * applies at the call site).
   *
   * Pinned semantics (the x17 DuckDB oracle states the same):
   *  - a "line" is a maximal '\n'-free segment (split on '\n' only —
   *    no trimming, '\r' is line content); empty segments are ignored;
   *    line length counts CODE POINTS (DuckDB `length` parity);
   *  - "words" are the `\w+` runs of the LOWERCASED text (the same
   *    token stream as TextMetrics' n_toks — ASCII word chars,
   *    Locale.ROOT);
   *  - an n-gram is n consecutive words joined by ' '; a doc with fewer
   *    than n words has zero n-grams;
   *  - `dup_*` counts INSTANCES belonging to a value seen more than
   *    once (so a line repeated 3× contributes 3·len chars).
   *
   * Per-row state only (three count maps + the token list) — streams at
   * any corpus size, nothing survives the row.
   */
  case class RepetitionMetrics(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow

    override def dataType: DataType = RepetitionMetricsSchema.schema

    override def checkInputDataTypes() = child.dataType match {
      case _: StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"repetition_metrics expects STRING, got ${other.catalogString}")
    }

    private def isWord(cp: Int): Boolean =
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= '0' && cp <= '9') || cp == '_'

    /** (max count, instances belonging to values seen more than once)
      * over a count map. */
    private def gramStats(counts: java.util.HashMap[String, Int]): (Int, Int) = {
      var top = 0; var dup = 0
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        if (c > top) top = c
        if (c > 1) dup += c
      }
      (top, dup)
    }

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString

      // lines: count map + code-point lengths in one scan
      val lineCounts = new java.util.HashMap[String, Int]()
      var nLines = 0
      var start = 0
      def flushLine(end: Int): Unit = if (end > start) {
        val line = s.substring(start, end)
        nLines += 1
        lineCounts.merge(line, 1, Integer.sum)
      }
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\n') { flushLine(i); start = i + 1 }
        i += 1
      }
      flushLine(s.length)
      var lineChars = 0L; var dupLineChars = 0L; var topLine = 0
      val lit = lineCounts.entrySet().iterator()
      while (lit.hasNext) {
        val e = lit.next()
        val len = e.getKey.codePointCount(0, e.getKey.length).toLong
        val c = e.getValue
        lineChars += len * c
        if (c > 1) dupLineChars += len * c
        if (c > topLine) topLine = c
      }

      // words of the lowercased text (TextMetrics' n_toks stream)
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val words = new java.util.ArrayList[String]()
      val tok = new java.lang.StringBuilder(32)
      i = 0
      while (i < lower.length) {
        val cp = lower.codePointAt(i)
        if (isWord(cp)) tok.appendCodePoint(cp)
        else if (tok.length > 0) { words.add(tok.toString); tok.setLength(0) }
        i += Character.charCount(cp)
      }
      if (tok.length > 0) words.add(tok.toString)

      def ngramCounts(n: Int): java.util.HashMap[String, Int] = {
        val m = new java.util.HashMap[String, Int]()
        var j = 0
        val last = words.size() - n
        val sb = new java.lang.StringBuilder(64)
        while (j <= last) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(words.get(j + k))
            k += 1
          }
          m.merge(sb.toString, 1, Integer.sum)
          j += 1
        }
        m
      }
      val nw = words.size()
      val (top2, _) = gramStats(ngramCounts(2))
      val (top3, _) = gramStats(ngramCounts(3))
      val (_, dup5) = gramStats(ngramCounts(5))

      InternalRow(
        nLines, lineChars, dupLineChars, topLine,
        math.max(nw - 1, 0), top2,
        math.max(nw - 2, 0), top3,
        math.max(nw - 4, 0), dup5)
    }
    override def prettyName: String = "repetition_metrics"
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  object RepetitionMetricsSchema {
    val schema: StructType = StructType(Seq(
      StructField("n_lines", IntegerType, nullable = false),
      StructField("line_chars", LongType, nullable = false),
      StructField("dup_line_chars", LongType, nullable = false),
      StructField("top_line_count", IntegerType, nullable = false),
      StructField("n_bigrams", IntegerType, nullable = false),
      StructField("top_bigram_count", IntegerType, nullable = false),
      StructField("n_trigrams", IntegerType, nullable = false),
      StructField("top_trigram_count", IntegerType, nullable = false),
      StructField("n_fivegrams", IntegerType, nullable = false),
      StructField("dup_fivegram_count", IntegerType, nullable = false)))
  }

  // ---------------------------------------------------------- Column API
  // Session-registry-based construction (Column internals are private in
  // Spark 4; call_function resolves through the FunctionRegistry).

  /** Registers `name` in the session's function registry unless the
    * session already has it, so a column builder called once per op
    * registers each function once per session, not once per call. */
  private[functions] def registerIfAbsent(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  private def ensureRegistered(spark: SparkSession): Unit = {
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      registerIfAbsent(spark, name, builder)
    register("token_trigram_hashes",
      { case Seq(x) => TokenTrigramHashes(x) })
    register("minhash_from_hashes",
      { case Seq(x, Literal(n: Int, IntegerType)) => MinHashFromHashes(x, n) })
    register("simhash64",
      { case Seq(x) => SimHash64(x) })
    register("band_keys",
      { case Seq(x, Literal(p: Int, IntegerType), Literal(b: Int, IntegerType)) =>
        BandKeysExpr(x, p, b) })
    register("rhp_buckets",
      { case Seq(x, Literal(t: Int, IntegerType), Literal(b: Int, IntegerType)) =>
        RhpBuckets(x, t, b) })
    register("nearest_centroids",
      { case Seq(v, c, p) => NearestCentroids(v, c, p) })
    register("cosine_sim",
      { case Seq(a, b) => CosineSim(a, b) })
    register("dot_prod",
      { case Seq(a, b) => DotProd(a, b) })
    register("vec_norm",
      { case Seq(x) => VecNorm(x) })
    register("vec_standardize",
      { case Seq(x, m, d) => VecStandardize(x, m, d) })
    register("deflate_ratio",
      { case Seq(x) => DeflateRatio(x) })
    register("text_metrics",
      { case Seq(x) => TextMetrics(x) })
    register("repetition_metrics",
      { case Seq(x) => RepetitionMetrics(x) })
    register("quant_stats",
      { case Seq(x, Literal(l: Int, IntegerType)) => QuantStats(x, l) })
    register("pair_terms",
      { case Seq(x, Literal(d: Int, IntegerType)) => PairTerms(x, d) })
    register("nfc_normalize",
      { case Seq(x) => NfcNormalize(x) })
    register("char_entropy",
      { case Seq(x) => CharEntropy(x) })
    // Spark's own runtime-filter bloom machinery, surfaced as callable
    // functions (both carry real doGenCode; the aggregate OR-merges
    // partial filters, so the build is fully distributed).
    register("bloom_agg",
      { case Seq(x, Literal(n: Long, LongType)) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(x, n).toAggregateExpression() })
    register("bloom_might_contain",
      { case Seq(bf, v) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(bf, v) })
  }

  def tokenTrigramHashes(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("token_trigram_hashes", text)
  }

  def minhashFromHashes(spark: SparkSession, hashes: Column, numPerm: Int): Column = {
    ensureRegistered(spark)
    call_function("minhash_from_hashes", hashes, org.apache.spark.sql.functions.lit(numPerm))
  }

  def simhash64(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("simhash64", text)
  }

  def bandKeys(spark: SparkSession, sig: Column, numPerm: Int, bands: Int): Column = {
    ensureRegistered(spark)
    call_function("band_keys", sig,
      org.apache.spark.sql.functions.lit(numPerm), org.apache.spark.sql.functions.lit(bands))
  }

  def rhpBuckets(spark: SparkSession, vec: Column, tables: Int, bits: Int): Column = {
    ensureRegistered(spark)
    call_function("rhp_buckets", vec,
      org.apache.spark.sql.functions.lit(tables), org.apache.spark.sql.functions.lit(bits))
  }

  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("cosine_sim", a, b)
  }

  def dotProd(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("dot_prod", a, b)
  }

  def vecNorm(spark: SparkSession, v: Column): Column = {
    ensureRegistered(spark)
    call_function("vec_norm", v)
  }

  def vecStandardize(spark: SparkSession, v: Column, means: Column,
      denoms: Column): Column = {
    ensureRegistered(spark)
    call_function("vec_standardize", v, means, denoms)
  }

  def deflateRatio(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("deflate_ratio", text)
  }

  def textMetrics(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("text_metrics", text)
  }

  def repetitionMetrics(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("repetition_metrics", text)
  }

  def quantStats(spark: SparkSession, v: Column, levels: Int): Column = {
    ensureRegistered(spark)
    call_function("quant_stats", v,
      org.apache.spark.sql.functions.lit(levels))
  }

  def pairTerms(spark: SparkSession, v: Column, dims: Int): Column = {
    ensureRegistered(spark)
    call_function("pair_terms", v,
      org.apache.spark.sql.functions.lit(dims))
  }

  /** Unicode NFC canonical form of a string column (null-safe). */
  def nfcNormalize(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("nfc_normalize", text)
  }

  /** struct(n_cp, n_distinct_cp, entropy) — see [[CharEntropy]]. */
  def charEntropy(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function("char_entropy", text)
  }

  /** Distributed bloom-filter build over a LONG column (partial filters
    * OR-merge map-side). Returns one BINARY blob; size is fixed by
    * `expectedItems` at Spark's default ~3% fpp sizing, independent of
    * the actual row count. */
  def bloomAgg(spark: SparkSession, v: Column, expectedItems: Long): Column = {
    ensureRegistered(spark)
    call_function("bloom_agg", v,
      org.apache.spark.sql.functions.lit(expectedItems))
  }

  /** Codegen'd membership probe against a serialized bloom filter (a
    * foldable BINARY column — a literal of [[bloomAgg]]'s output). No
    * false negatives; false-positive rate set at build time. */
  def bloomMightContain(spark: SparkSession, bf: Column, v: Column): Column = {
    ensureRegistered(spark)
    call_function("bloom_might_contain", bf, v)
  }

  def nearestCentroids(spark: SparkSession, vec: Column,
      centroids: Array[Array[Double]], nprobe: Int): Column = {
    ensureRegistered(spark)
    call_function("nearest_centroids", vec,
      org.apache.spark.sql.functions.typedLit(centroids.map(_.toSeq).toSeq),
      org.apache.spark.sql.functions.lit(nprobe))
  }
}
