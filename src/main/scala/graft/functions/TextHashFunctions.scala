package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text hashing expressions for the dedup / fingerprinting operators.
  * Same custom-Expression rationale as [[VectorFunctions]]: these are
  * per-document inner loops (|tokens| × 64 bits) that must stay inside
  * whole-stage codegen.
  */
object TextHashFunctions {

  /** FNV-1a 64-bit over UTF-8 bytes — stable across JVMs/runs, cheap,
    * public-domain constants.
    */
  @inline def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64-bit SimHash of a token array (Charikar): bit j of the result is the
    * sign of the sum over tokens of ±1 at bit j of the token's hash.
    * Documents sharing most tokens differ in few bits → hamming distance
    * is a near-dup measure.
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var t = 0
      while (t < arr.numElements()) {
        if (!arr.isNullAt(t)) {
          val h = fnv64(arr.getUTF8String(t).getBytes)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            j += 1
          }
        }
        t += 1
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (counts(j) >= 0) sig |= (1L << j); j += 1 }
      sig
    }
    // tight but branch-heavy loop; interpreted eval is already array-local.
    // Codegen delegates to the static helper to keep generated code small.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextHashFunctions.simhashEval($a);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code */
  def simhashEval(arr: ArrayData): Long =
    SimHash64(null).nullSafeEval(arr).asInstanceOf[Long]

  /** Distinct word n-gram shingles of a document in ONE pass: tokenize
    * (lowercase per code point; any non-letter/digit delimits — same
    * semantics as `Dedup.tokens`), slide an n-token window, dedupe.
    *
    * Why a fused expression and not `transform(sequence(0, size(toks)-n),
    * i -> concat_ws(' ', slice(toks, i+1, n)))`: Catalyst higher-order
    * functions re-evaluate their argument expression inside every lambda
    * invocation, and `toks` (the whole regexp tokenizer) sits INSIDE the
    * lambda — the composed form re-tokenized each document once per
    * shingle index (~|tokens| regex passes per doc; measured 11+ s for
    * 5k docs where this expression takes well under a second).
    *
    * Shape parity with the composed form: n-grams for |tokens| ≥ n; the
    * single full-token join when 0 < |tokens| < n; EMPTY for token-less
    * docs (no [""] — that band-collides all junk docs, see
    * [[MinHashBandBuckets]]).
    */
  case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      shingleEval(a.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"graft.functions.TextHashFunctions.shingleEval($a, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code */
  def shingleEval(u: UTF8String, n: Int): ArrayData = {
    val out = new java.util.LinkedHashSet[String]
    walkGrams(u, n, g => { out.add(g); false })
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** The one word-`n`-gram walker behind [[ShingleSet]], [[BloomGramHit]]
    * and [[GramSetHit]]: tokenize (lowercase per code point; any
    * non-letter/digit delimits), then hand each n-token window, joined
    * by single spaces, to `stop` in document order — or, when
    * 0 < |tokens| < n, the one full-token join; a token-less doc yields
    * nothing. Stops at the first gram `stop` accepts and returns whether
    * it did, so the probes exit early and never build a gram array.
    */
  def walkGrams(u: UTF8String, n: Int, stop: String => Boolean): Boolean = {
    val s = u.toString
    val toks = new java.util.ArrayList[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp) || Character.isDigit(cp))
        sb.appendCodePoint(Character.toLowerCase(cp))
      else if (sb.length > 0) { toks.add(sb.toString); sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) toks.add(sb.toString)
    val m = toks.size
    if (m > 0 && m < n) stop(String.join(" ", toks))
    else {
      var hit = false
      var start = 0
      while (!hit && start <= m - n) {
        val g = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) g.append(' ')
          g.append(toks.get(start + j)); j += 1
        }
        hit = stop(g.toString); start += 1
      }
      hit
    }
  }

  def shingle_set(text: Column, n: Int): Column =
    Bridge.column(ShingleSet(Bridge.expression(text), n))

  /** Character trigram TOKENS (with multiplicity — cross-entropy scoring
    * weighs repeated trigrams) over the normalized text, in one fused
    * pass. Normalization mirrors the ANSI-SQL form
    * `regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')` EXACTLY so the
    * result is DuckDB-oracle-able: lowercase, each maximal run of
    * characters outside ASCII [a-z0-9] becomes ONE space (ends included,
    * no trim). Texts shorter than 3 normalized chars yield an empty
    * array. Fused for the same HOF-re-evaluation reason as [[ShingleSet]]
    * — the composable `transform(sequence(...), i -> substr(norm, i, 3))`
    * re-runs the normalizing regex once per trigram INDEX.
    */
  case class CharTrigrams(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      charTrigramEval(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"graft.functions.TextHashFunctions.charTrigramEval($a);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code */
  def charTrigramEval(u: UTF8String): ArrayData = {
    val s = u.toString
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val lc = Character.toLowerCase(cp)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9'))
        sb.appendCodePoint(lc)
      else if (sb.length == 0 || sb.charAt(sb.length - 1) != ' ')
        sb.append(' ')
      i += Character.charCount(cp)
    }
    val n = sb.length
    if (n < 3) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val arr = new Array[Any](n - 2)
    var p = 0
    while (p <= n - 3) {
      arr(p) = UTF8String.fromString(sb.substring(p, p + 3)); p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  def char_trigrams(text: Column): Column =
    Bridge.column(CharTrigrams(Bridge.expression(text)))

  /** MinHash band-bucket vector in ONE pass: element b of the result is
    * `hash(minhash slice for band b)` over `bands × rowsPerBand` hash
    * functions `h_j(t) = mix(seed ⊕ j ⊕ fnv64(t))`.
    *
    * Why one fused expression instead of the composable
    * `transform(sequence(...), j -> array_min(transform(toks, ...)))`
    * pipeline: Catalyst higher-order functions re-evaluate their argument
    * expression inside every lambda invocation and CollapseProject inlines
    * aliased subexpressions into consumers — the composed form evaluated
    * the tokenizer bands × k times per row (observed: 9.5 s to band 500
    * docs; 128 tokenizations per doc). This expression touches each token
    * exactly once per hash function.
    */
  case class MinHashBandBuckets(child: Expression, bands: Int, rowsPerBand: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val k = bands * rowsPerBand
      val minima = Array.fill(k)(Long.MaxValue)
      var seen = false
      var t = 0
      while (t < arr.numElements()) {
        if (!arr.isNullAt(t)) {
          seen = true
          val base = fnv64(arr.getUTF8String(t).getBytes)
          var j = 0
          while (j < k) {
            // splitmix-style avalanche over (seed, j, token-hash)
            var z = base ^ (seed + j * 0x9e3779b97f4a7c15L)
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z ^= (z >>> 31)
            if (z < minima(j)) minima(j) = z
            j += 1
          }
        }
        t += 1
      }
      // empty input (token-less doc) → NO buckets: every all-MaxValue
      // signature is identical, so emitting buckets would band-collide
      // all empty docs with each other (spurious O(m²) near-dup pairs)
      if (!seen) {
        return org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(Array.emptyLongArray)
      }
      val buckets = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 0xcbf29ce484222325L
        var r = 0
        while (r < rowsPerBand) {
          h ^= minima(b * rowsPerBand + r); h *= 0x100000001b3L; r += 1
        }
        buckets(b) = h
        b += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buckets)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"graft.functions.TextHashFunctions.minhashBandEval($a, $bands, $rowsPerBand, ${seed}L);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code */
  def minhashBandEval(arr: ArrayData, bands: Int, rowsPerBand: Int, seed: Long): ArrayData =
    MinHashBandBuckets(null, bands, rowsPerBand, seed).nullSafeEval(arr)
      .asInstanceOf[ArrayData]

  def minhash_band_buckets(tokens: Column, bands: Int, rowsPerBand: Int,
      seed: Long = 42L): Column =
    Bridge.column(MinHashBandBuckets(Bridge.expression(tokens), bands, rowsPerBand, seed))

  /** Winnowing-style rolling fingerprints in ONE pass: normalize
    * (tokenize + single-space join, same tokenizer as [[ShingleSet]]),
    * hash every char n-gram of the normalized text (FNV-1a over chars),
    * keep hashes ≡ 0 (mod keepMod) — a deterministic ~1/keepMod position
    * sample robust to local edits. Output sorted distinct.
    *
    * Fused for the same reason as [[ShingleSet]]: the composed form put
    * the normalization expression inside the per-position `transform`
    * lambda — one full tokenization per CHARACTER of the document.
    */
  case class RollingFingerprints(child: Expression, n: Int, keepMod: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      rollingFpEval(a.asInstanceOf[UTF8String], n, keepMod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"graft.functions.TextHashFunctions.rollingFpEval($a, $n, $keepMod);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code */
  def rollingFpEval(u: UTF8String, n: Int, keepMod: Int): ArrayData = {
    val s = u.toString
    val norm = new java.lang.StringBuilder
    var i = 0
    var inTok = false
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp) || Character.isDigit(cp)) {
        if (!inTok && norm.length > 0) norm.append(' ')
        norm.appendCodePoint(Character.toLowerCase(cp)); inTok = true
      } else inTok = false
      i += Character.charCount(cp)
    }
    val kept = new java.util.TreeSet[java.lang.Long]
    val m = norm.length
    var start = 0
    while (start <= m - n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) { h ^= norm.charAt(start + j); h *= 0x100000001b3L; j += 1 }
      if (java.lang.Math.floorMod(h, keepMod.toLong) == 0L) kept.add(h)
      start += 1
    }
    val out = new Array[Long](kept.size)
    val it = kept.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    ArrayData.toArrayData(out)
  }

  def rolling_fingerprints(text: Column, n: Int, keepMod: Int): Column =
    Bridge.column(RollingFingerprints(Bridge.expression(text), n, keepMod))

  /** BPE tokenization of a word-token array under an ORDERED merge list —
    * the APPLY side of [[graft.operators.TextAnalysis.bpeMerges]] (same
    * fit/apply split as the IVF-PQ model and the trigram LM: merges are a
    * build artifact, encoding is a stateless map-only column). Each word
    * splits into per-code-unit symbols (parity with the trainer's
    * `split(w, "")`), then every merge applies greedily left-to-right,
    * non-overlapping, in merge order — the exact rewrite
    * `TextAnalysis.mergePairIn` does distributively during training.
    * Output is the concatenated subword stream across the word array.
    *
    * Why a fused expression: folding `mergePairIn` per merge would nest
    * `rounds` aggregate-HOFs, and each level's lambda references its
    * input once per ELEMENT — Catalyst re-evaluates HOF arguments per
    * reference, compounding to O(len^rounds) upstream evaluations (the
    * [[ShingleSet]] trap, one level deeper). Here the whole merge loop is
    * one per-row pass: O(rounds × word length), inside codegen.
    */
  case class BpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    private lazy val mergeArr: Array[Array[String]] =
      merges.map(m => Array(m._1, m._2)).toArray
    override def nullSafeEval(a: Any): Any =
      bpeEncodeEval(a.asInstanceOf[ArrayData], mergeArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // the merge table rides the references array (standard Catalyst
      // pattern for non-literal config objects in generated code)
      val ref = ctx.addReferenceObj("bpeMerges", mergeArr, "java.lang.String[][]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"graft.functions.TextHashFunctions.bpeEncodeEval($a, $ref);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code */
  def bpeEncodeEval(toks: ArrayData, merges: Array[Array[String]]): ArrayData = {
    val out = new java.util.ArrayList[Any]
    var t = 0
    while (t < toks.numElements()) {
      if (!toks.isNullAt(t)) {
        val w = toks.getUTF8String(t).toString
        var syms = new java.util.ArrayList[String](w.length)
        var i = 0
        while (i < w.length) { syms.add(String.valueOf(w.charAt(i))); i += 1 }
        var m = 0
        while (m < merges.length) {
          val a = merges(m)(0); val b = merges(m)(1)
          val next = new java.util.ArrayList[String](syms.size)
          var j = 0
          while (j < syms.size) {
            if (j < syms.size - 1 && syms.get(j) == a && syms.get(j + 1) == b) {
              next.add(a + b); j += 2
            } else { next.add(syms.get(j)); j += 1 }
          }
          syms = next; m += 1
        }
        var k = 0
        while (k < syms.size) { out.add(UTF8String.fromString(syms.get(k))); k += 1 }
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  def bpe_encode(tokens: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(tokens), merges))

  /** Hamming distance between two 64-bit signatures (for simhash near-dup
    * thresholds) — plain bitCount, exposed as a Column helper.
    */
  def hamming64(a: Column, b: Column): Column = {
    // bit_count(xor) via SQL built-in — already codegen'd
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b)).cast("int")
  }

  def simhash64(tokens: Column): Column = Bridge.column(SimHash64(Bridge.expression(tokens)))

  /** Deterministic 64-bit avalanche of three long keys + a static seed —
    * the hash a SQL-mirrorable "random" choice rides (random-walk next-
    * step selection, salting, deterministic jitter). The wrapping
    * combine and the splitmix64-style finalizer (public-domain
    * constants, the [[VectorFunctions.RandomProjectionSignature]] mix)
    * run INSIDE the expression, so ANSI overflow checks never see them;
    * the DuckDB twin carries the same arithmetic as mod-2^64 HUGEINT
    * residues (the q_minhash_sigs mm64 machinery).
    */
  case class Mix64(a: Expression, b: Expression, c: Expression, seed: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = a
    override def second: Expression = b
    override def third: Expression = c
    override def dataType: DataType = LongType
    override def nullSafeEval(x: Any, y: Any, z0in: Any): Any =
      mix64Eval(x.asInstanceOf[Long], y.asInstanceOf[Long],
        z0in.asInstanceOf[Long], seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y, z) =>
        s"${ev.value} = graft.functions.TextHashFunctions.mix64Eval($x, $y, $z, $seed);")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(a = f, b = s, c = t)
  }

  /** static entry point for generated code — keep in lockstep with the
    * mix64Cte twin in AnalyticsQueries
    */
  def mix64Eval(a: Long, b: Long, c: Long, seed: Int): Long = {
    var z = seed.toLong * 0x9e3779b97f4a7c15L +
      a * 0xc2b2ae3d27d4eb4fL + b * 0x165667b19e3779f9L + c
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mix64(a: Column, b: Column, c: Column, seed: Int): Column =
    Bridge.column(Mix64(Bridge.expression(a), Bridge.expression(b),
      Bridge.expression(c), seed))

  /** TRUE iff any word `n`-gram of `child`'s text MIGHT be in the bloom
    * filter (serialized `org.apache.spark.util.sketch.BloomFilter`
    * bytes). Its grams come from [[walkGrams]], the walker [[ShingleSet]]
    * uses (same tokenizer, same `m < n` whole-doc fallback), so a bloom built over
    * `explode(shingle_set(bench))` has NO false negatives against this
    * predicate — `false` here proves the document shares no gram with
    * the bench set.
    *
    * This is the 100 TB decontamination pre-filter: evaluated inside the
    * scan (whole-stage codegen, early-exit on first hit), it prunes the
    * overwhelmingly-clean corpus BEFORE the explode→join path, so the
    * per-gram shuffle row count scales with the CONTAMINATION RATE
    * (plus the bloom fpp), not the corpus size. The filter itself is a
    * few MB of task-shipped reference state — the same posture as a
    * broadcast join's hash relation, minus the relation.
    */
  case class BloomGramHit(child: Expression, bloomBytes: Array[Byte], n: Int)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    // Array[Byte] compares by reference in the synthesized case-class
    // equals/hashCode, which would make two semantically identical
    // predicates never equal — blocking canonicalization/subexpression
    // reuse. Compare the bytes by value instead.
    override def equals(other: Any): Boolean = other match {
      case BloomGramHit(c, b, m) =>
        n == m && child == c && java.util.Arrays.equals(bloomBytes, b)
      case _ => false
    }
    override def hashCode(): Int =
      java.util.Objects.hash(child, Integer.valueOf(n),
        Integer.valueOf(java.util.Arrays.hashCode(bloomBytes)))
    // parsed once per deserialized expression (per executor-core), not
    // per row; the case-class field stays the compact byte form
    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))
    override def nullSafeEval(a: Any): Any =
      bloomGramHitEval(a.asInstanceOf[UTF8String], bloom, n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomGram", bloom,
        "org.apache.spark.util.sketch.BloomFilter")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextHashFunctions.bloomGramHitEval($a, $ref, $n);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** static entry point for generated code — [[walkGrams]] against the
    * bloom, exiting on the first possible hit
    */
  def bloomGramHitEval(u: UTF8String,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int): Boolean =
    walkGrams(u, n, bloom.mightContainString)

  def bloom_gram_hit(text: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    Bridge.column(BloomGramHit(Bridge.expression(text), bos.toByteArray, n))
  }

  /** Whole-STRING bloom membership probe ([[BloomGramHit]]'s scalar
    * sibling — no tokenization): true iff the bloom MIGHT contain the
    * child string. Same fpp-only contract (no false negatives), so a
    * `false` is a proof of absence — the pre-filter shape that lets a
    * stream-static dedup probe skip its index join for unflagged rows
    * ([[graft.streaming.EventStreams.curationIntake]] gate 4). Same
    * value-equals/by-value-hashCode discipline as BloomGramHit (byte
    * arrays compare by reference in synthesized case-class equals,
    * which would block canonicalization).
    */
  case class BloomHit(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def equals(other: Any): Boolean = other match {
      case BloomHit(c, b) =>
        child == c && java.util.Arrays.equals(bloomBytes, b)
      case _ => false
    }
    override def hashCode(): Int =
      java.util.Objects.hash(child,
        Integer.valueOf(java.util.Arrays.hashCode(bloomBytes)))
    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))
    override def nullSafeEval(a: Any): Any =
      bloom.mightContainString(a.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomHit", bloom,
        "org.apache.spark.util.sketch.BloomFilter")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = $ref.mightContainString($a.toString());")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def bloom_hit(s: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    Bridge.column(BloomHit(Bridge.expression(s), bos.toByteArray))
  }

  /** EXACT membership probes against a string set shipped ONCE as a
    * broadcast variable — the exact siblings of [[BloomGramHit]] and
    * [[BloomHit]], for reference state bounded enough to hold exactly
    * (the bench grams under `maxBroadcastGrams`, a batch's confirmed
    * duplicate hashes). The set rides neither the plan nor the task
    * closure: the expression carries the broadcast handle, and the
    * generated code reads the set once per partition. Null in, null
    * out; the column builders coalesce that to `false`, so a null key
    * never matches — the semantics of the equi-joins these probes
    * replace.
    */
  sealed abstract class BroadcastSetProbe extends UnaryExpression {
    def set: Broadcast[java.util.Set[String]]
    /** the probe, shared by interpreted eval and the generated code */
    def hit(u: UTF8String, s: java.util.Set[String]): Boolean
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any): Any = hit(a.asInstanceOf[UTF8String], set.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val probe = ctx.addReferenceObj("setProbe", this, getClass.getName)
      val s = ctx.addMutableState("java.util.Set", "probeSet",
        v => s"$v = (java.util.Set) $probe.set().value();")
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $probe.hit($a, $s);")
    }
  }

  /** TRUE iff some word `n`-gram of `child`'s text ([[walkGrams]], the
    * [[ShingleSet]] grams) is in the set: the exact form of
    * [[BloomGramHit]], exiting on the first hit.
    */
  case class GramSetHit(child: Expression, set: Broadcast[java.util.Set[String]], n: Int)
      extends BroadcastSetProbe {
    override def hit(u: UTF8String, s: java.util.Set[String]): Boolean =
      walkGrams(u, n, s.contains)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** TRUE iff the whole `child` string is in the set: the exact form of
    * [[BloomHit]].
    */
  case class SetHit(child: Expression, set: Broadcast[java.util.Set[String]])
      extends BroadcastSetProbe {
    override def hit(u: UTF8String, s: java.util.Set[String]): Boolean =
      s.contains(u.toString)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** The distinct strings a job's tasks add, merged on the driver as
    * each task finishes.
    */
  private final class SetAccumulator
      extends org.apache.spark.util.AccumulatorV2[String, java.util.Set[String]] {
    private val set = new java.util.HashSet[String]
    override def isZero: Boolean = set.isEmpty
    override def copy(): SetAccumulator = { val c = new SetAccumulator; c.set.addAll(set); c }
    override def reset(): Unit = set.clear()
    override def add(v: String): Unit = set.add(v)
    override def merge(o: org.apache.spark.util.AccumulatorV2[String, java.util.Set[String]])
        : Unit = set.addAll(o.value)
    override def value: java.util.Set[String] = set
  }

  /** Ships the distinct values of `xs` once, as the broadcast set the
    * probes above read. One job: each task gathers its partition's
    * distinct values and the driver merges them as tasks finish, so it
    * never holds a row array or a string array beside the set. A
    * `java.util.HashSet` of word 5-grams (31 chars on average) measures
    * ~90 bytes per entry on the heap and ~35 serialized (`SizeEstimator`
    * / Java serialization, 1M entries, JDK 17): every executor holds the
    * whole set deserialized.
    */
  def broadcastSet(xs: org.apache.spark.sql.Dataset[String]): Broadcast[java.util.Set[String]] = {
    val sc = xs.sparkSession.sparkContext
    val acc = new SetAccumulator
    sc.register(acc)
    xs.foreach((s: String) => acc.add(s))
    sc.broadcast[java.util.Set[String]](acc.value)
  }

  def gram_set_hit(text: Column, grams: Broadcast[java.util.Set[String]], n: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      Bridge.column(GramSetHit(Bridge.expression(text), grams, n)),
      org.apache.spark.sql.functions.lit(false))

  def set_hit(s: Column, set: Broadcast[java.util.Set[String]]): Column =
    org.apache.spark.sql.functions.coalesce(
      Bridge.column(SetHit(Bridge.expression(s), set)),
      org.apache.spark.sql.functions.lit(false))

  /** Jaro-Winkler similarity — the STANDARD variant (match window
    * `max(|a|,|b|)/2 − 1`, FLOORED half-transpositions, Winkler prefix boost
    * p = 0.1 over the common prefix ≤ 4, applied only when jaro > 0.7;
    * either side empty → 0.0), which is the variant DuckDB's
    * `jaro_winkler_similarity` implements — so scores are value-
    * oracle-able cross-engine (verified on the textbook triples:
    * MARTHA/MARHTA 0.961111, DIXON/DICKSONX 0.813333, DWAYNE/DUANE
    * 0.84). Operates on UTF-16 code units (exact for the ASCII
    * entity-resolution fixtures; supplementary-plane text would pair
    * surrogates).
    *
    * Why a custom Expression: the match-flag scan is an
    * O(|a|·window) two-array inner loop per PAIR — with blocked
    * candidate generation this sits in the hot path of fuzzy matching,
    * and there is no built-in composition that expresses the flag
    * arrays (a Scala UDF would box both strings and break the
    * whole-stage-codegen span around the blocked join).
    */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      jaroWinkler(a.asInstanceOf[UTF8String].toString,
        b.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextHashFunctions" +
          s".jaroWinkler($a.toString(), $b.toString());")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** static entry point for generated code — see [[JaroWinkler]] */
  def jaroWinkler(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0 // incl. both empty — DuckDB parity
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var halfTrans = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) halfTrans += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    // FLOORED transposition count (integer division) — the strcmp95
    // reference and DuckDB both floor; real-valued halfTrans/2.0
    // diverges on every odd-half-transposition pair (e.g. cecbac/cbac:
    // 0.7875 vs DuckDB's 0.825) and breaks the value-oracle contract
    val jaro = (md / l1 + md / l2 + (md - halfTrans / 2) / md) / 3.0
    var p = 0
    val maxPrefix = math.min(4, math.min(l1, l2))
    while (p < maxPrefix && s1.charAt(p) == s2.charAt(p)) p += 1
    if (jaro > 0.7) jaro + p * 0.1 * (1.0 - jaro) else jaro
  }

  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import VectorFunctions.litInt
    Bridge.registerFunction(spark, "simhash64", es => SimHash64(es.head))
    Bridge.registerFunction(spark, "shingle_set",
      es => ShingleSet(es.head, litInt(es(1), "n")))
    Bridge.registerFunction(spark, "minhash_band_buckets",
      es => MinHashBandBuckets(es.head,
        litInt(es(1), "bands"), litInt(es(2), "rowsPerBand"), 42L))
    Bridge.registerFunction(spark, "rolling_fingerprints",
      es => RollingFingerprints(es.head,
        litInt(es(1), "n"), litInt(es(2), "keepMod")))
    Bridge.registerFunction(spark, "jaro_winkler",
      es => JaroWinkler(es.head, es(1)))
    Bridge.registerFunction(spark, "text_stats",
      es => TextStats.TextStatsExpr(es.head))
    Bridge.registerFunction(spark, "lang_hits",
      es => TextStats.LangHitsExpr(es.head))
  }
}
