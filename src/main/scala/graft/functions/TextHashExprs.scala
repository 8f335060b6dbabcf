package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashing kernels for near-duplicate detection: MinHash signatures and
  * SimHash, as native Catalyst expressions (single pass per row, no
  * shuffle — the banding/bucketing around them is plain DataFrame ops).
  *
  * Hash family: FNV-1a 64 over UTF-8 bytes as the base hash, then a
  * splitmix64 finalizer keyed by a per-function seed — both classic
  * public-domain constructions. Deterministic across runs and engines.
  */
object TextHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L
  final val Golden = 0x9E3779B97F4A7C15L

  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }

  /** splitmix64 finalizer (public domain, Steele et al.). */
  def mix64(z0: Long): Long = {
    var z = z0 + Golden
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** NFC-normalize a UTF8String; returns the input object untouched
    * when already normalized (no allocation on the ASCII fast path). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  private val md5Digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Low 64 bits of MD5 — digest bytes 8..15 read little-endian, the
    * exact convention of DuckDB's `md5_number_lower`, so SQL oracles
    * can reproduce any hash built on this basis verbatim. */
  def md5Lower64(bytes: Array[Byte]): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** MinHash signature of a shingle set. */
  def minhash(shingles: Iterator[Array[Byte]], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    shingles.foreach { s =>
      val base = fnv1a64(s)
      var i = 0
      while (i < k) {
        val h = mix64(base ^ (i.toLong * Golden))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** 64-bit SimHash of a token multiset. Per-token basis hash is
    * md5Lower64 (not FNV) precisely so a DuckDB oracle can rebuild the
    * identical fingerprint with `md5_number_lower(token)`. */
  def simhash(tokens: Iterator[Array[Byte]], acc: Array[Int]): Long = {
    java.util.Arrays.fill(acc, 0)
    tokens.foreach { t =>
      val h = md5Lower64(t)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }
}

/** text → sorted distinct 64-bit hashes of its 3-word shingles, in one
  * pass over the UTF-8 bytes: tokens split on spaces are contiguous in
  * the source bytes, so each shingle is a byte slice — no intermediate
  * strings, no lambda interpretation. (The HOF formulation
  * split→transform→concat_ws→xxhash64 was re-evaluated per OUTPUT row
  * under Generate and cost ~1.5 ms/row; this is ~3 µs.)
  */
case class ShingleHashArr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(ShingleHashArr.hashes(v.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHashArr.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($cls.hashes($t));")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleHashArr {
  /** Sorted distinct FNV-1a hashes of the 3-word shingles. Tokens are
    * maximal runs of non-space bytes; a shingle hash covers token i,
    * token i+1, token i+2 joined by SINGLE spaces — i.e. whitespace is
    * normalized, so the hash set is (collision-free) equivalent to the
    * distinct string-shingle set an oracle builds from non-empty
    * tokens. Texts with <3 tokens hash as one whole-normalized-text
    * shingle (queries that compare against a string oracle must filter
    * such texts out on both sides — see dedupNgramJaccard). */
  def hashes(s: UTF8String): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    // token boundaries
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        starts += i
        while (i < n && bytes(i) != ' ') i += 1
        ends += i
      }
    }
    val nt = starts.length
    val out =
      if (nt < 3) Array(joined(bytes, starts, ends, 0, nt))
      else Array.tabulate(nt - 2)(t => joined(bytes, starts, ends, t, 3))
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted array
    var w = 0; var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  /** FNV-1a over `count` tokens starting at token `from`, joined by a
    * single 0x20 byte (whitespace-normalized shingle). */
  private def joined(bytes: Array[Byte],
                     starts: scala.collection.mutable.ArrayBuffer[Int],
                     ends: scala.collection.mutable.ArrayBuffer[Int],
                     from: Int, count: Int): Long = {
    var h = TextHash.FnvOffset
    var t = from
    while (t < from + count) {
      if (t > from) { h ^= 0x20L; h *= TextHash.FnvPrime }
      var i = starts(t)
      while (i < ends(t)) { h ^= (bytes(i) & 0xffL); h *= TextHash.FnvPrime; i += 1 }
      t += 1
    }
    h
  }
}

/** array<long> pre-hashed shingles → array<long> MinHash signature.
  * Same family as TextHash.minhash but skips the per-row UTF-8 re-hash:
  * shingles were already reduced to 64-bit hashes upstream (the dedup
  * pipeline hashes shingles once and reuses them for LSH + verify). */
case class MinHashSigLong(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var idx = 0
    while (idx < n) {
      val base = a.getLong(idx)
      var i = 0
      while (i < k) {
        val h = TextHash.mix64(base ^ (i.toLong * TextHash.Golden))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      idx += 1
    }
    new GenericArrayData(sig)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val th = TextHash.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val sig = ctx.freshName("sig"); val base = ctx.freshName("base"); val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      s"""
         |int $n = $a.numElements();
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $base = $a.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $h = $th.mix64($base ^ (((long) $j) * ${TextHash.Golden}L));
         |    if ($h < $sig[$j]) $sig[$j] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<string> tokens → 64-bit SimHash. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val it = (0 until a.numElements()).iterator
      .map(i => a.getUTF8String(i).getBytes)
    TextHash.simhash(it, new Array[Int](64))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val th = TextHash.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val h = ctx.freshName("h"); val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $acc = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $th.md5Lower64($a.getUTF8String($i).getBytes());
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ((($h >>> $j) & 1L) == 1L) $acc[$j]++; else $acc[$j]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) { if ($acc[$j] > 0) $out |= (1L << $j); }
         |${ev.value} = $out;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** string → low 64 bits of MD5 (DuckDB md5_number_lower convention) —
  * the engine-portable deterministic hash for seeded initialization
  * (NN-Descent init edges). */
/** Unicode NFC normalization (java.text.Normalizer) — canonical
  * composition so visually-identical decomposed/precomposed strings
  * hash alike before dedup/fingerprinting. The already-normalized
  * fast path (the overwhelming case — ASCII never re-allocates) is a
  * single isNormalized scan. Matches DuckDB's nfc_normalize, which
  * implements the same Unicode canonical composition. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TextHash.nfc(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val th = TextHash.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $th.nfc($s);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class Md5Lower64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TextHash.md5Lower64(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val th = TextHash.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $th.md5Lower64($s.getBytes());")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextHashOps {
  def md5Lower64(s: Column): Column =
    Shims.column(Md5Lower64(Shims.expression(s)))
  def nfcNormalize(s: Column): Column =
    Shims.column(NfcNormalize(Shims.expression(s)))
  def minhashSigLong(shingleHashes: Column, k: Int): Column =
    Shims.column(MinHashSigLong(Shims.expression(shingleHashes), k))
  def shingleHashes(text: Column): Column =
    Shims.column(ShingleHashArr(Shims.expression(text)))
  def simhash64(tokens: Column): Column =
    Shims.column(SimHash64(Shims.expression(tokens)))
}
