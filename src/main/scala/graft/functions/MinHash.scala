package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge

/** MinHash signature core: 64 permutations of a 64-bit FNV-1a base hash,
  * `sig[i] = min over shingles of (a_i * x + b_i) mod p` (Mersenne prime
  * p = 2^61-1, seeded fixed coefficients). One shared implementation backs
  * BOTH the typed Dataset path (`Dedup.minhashSig`) and the declarative
  * column path (`minhash_sig` expression), so the two are bit-identical by
  * construction — a spec asserts it.
  *
  * The column form is a native Catalyst expression whose generated code is a
  * single static call into the tight JVM loop below. The pure-HOF
  * formulation (`aggregate`/`zip_with`/`transform` + per-(i,shingle)
  * `xxhash64`) evaluates 64 interpreted lambdas per shingle and measured
  * ~20× slower end-to-end on the LSH pipeline.
  */
object MinHash {
  val NumHashes = 64
  private val Prime = (1L << 61) - 1 // Mersenne prime for (a*x+b) mod p perms

  /** Seeded permutation coefficients — fixed across runs/executors. */
  private val (permsA, permsB) = {
    val rnd = new java.util.Random(42)
    val a = new Array[Long](NumHashes)
    val b = new Array[Long](NumHashes)
    var i = 0
    while (i < NumHashes) {
      a(i) = math.abs(rnd.nextLong()) % (Prime - 1) + 1
      b(i) = math.abs(rnd.nextLong()) % Prime
      i += 1
    }
    (a, b)
  }

  /** FNV-1a 64 over UTF-8 bytes, masked positive (public-domain constants). */
  def baseHash(bytes: Array[Byte]): Long = fnvBytes(0xcbf29ce484222325L, bytes) & Long.MaxValue

  /** FNV-1a 64 of `h` continued over `bytes`: the one byte loop behind
    * [[baseHash]] and the fused shingle hash of [[computeFromTokens]]. */
  private def fnvBytes(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Exact (a*x) mod p for p = 2^61-1 via 128-bit product: with
    * a*x = hi·2^64 + lo, 2^61 ≡ 1 (mod p) gives lo ≡ (lo & p) + (lo >>> 61)
    * and 2^64 ≡ 8, so a*x ≡ (lo & p) + (lo >>> 61) + 8·hi (mod p). */
  @inline private def mulmod61(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x) // a,x < 2^61 so hi < 2^58, sign-safe
    val lo = a * x                   // low 64 bits (unsigned semantics below)
    mod61((lo & Prime) + (lo >>> 61) + (hi << 3))
  }

  @inline private def mod61(v: Long): Long = {
    // reduction for 0 <= v < 2^63 against p = 2^61-1
    var r = (v & Prime) + (v >>> 61)
    if (r >= Prime) r -= Prime
    r
  }

  /** Fold one shingle's base hash into a signature accumulator. */
  private def fold(sig: Array[Long], x0: Long): Unit = {
    val x = x0 % Prime
    var i = 0
    while (i < NumHashes) {
      val v = mod61(mulmod61(permsA(i), x) + permsB(i))
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** Signature of a set of shingles given as UTF-8 byte arrays. */
  def sigOf(shingles: Iterator[Array[Byte]]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    while (shingles.hasNext) fold(sig, baseHash(shingles.next()))
    sig
  }

  /** Hot-path entry referenced from generated code: array<string> shingles →
    * array<long> signature. Null elements are skipped. */
  def computeArray(arr: ArrayData): ArrayData = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) fold(sig, baseHash(arr.getUTF8String(i).getBytes))
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Hot-path entry for the tokens→signature fused form: word w-shingles are
    * hashed by streaming FNV-1a over the w tokens' bytes with a single 0x20
    * separator — the shingle string is never materialized, and no distinct
    * pass is needed (MinHash of a multiset equals MinHash of the set: min is
    * idempotent). Matches `Dedup.shingles(tokens).map(_.mkString(" "))`
    * byte-for-byte, including the `< w tokens → one whole-doc shingle` case. */
  def computeFromTokens(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes
      i += 1
    }
    @inline def hashRange(from: Int, until: Int): Long = {
      var h = 0xcbf29ce484222325L
      var j = from
      while (j < until) {
        if (j > from) { h ^= 0x20L; h *= 0x100000001b3L } // ' ' separator
        h = fnvBytes(h, bytes(j))
        j += 1
      }
      h & Long.MaxValue
    }
    if (n < w) fold(sig, hashRange(0, n))
    else {
      var s = 0
      while (s <= n - w) { fold(sig, hashRange(s, s + w)); s += 1 }
    }
    new GenericArrayData(sig)
  }

  /** Column form of the fused tokens→signature path: `minhashTokensCol(toks)`. */
  def minhashTokensCol(c: Column, w: Int = 3): Column =
    ColumnBridge.column(MinHashTokensExpr(ColumnBridge.expression(c), w))
}

/** `minhash_sig(array<string>) -> array<bigint>` as a native Catalyst
  * expression: whole-stage codegen emits one static call per row into
  * [[MinHash.computeArray]] — no UDF boxing, no interpreted lambdas. */
case class MinHashSigExpr(child: Expression) extends TokenKernelExpr {
  override def prettyName: String = "graft_minhash_sig"
  protected def kernel = "MinHash.computeArray"
  protected def call(t: ArrayData): Any = MinHash.computeArray(t)
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
}

/** `minhash_tokens(array<string> tokens) -> array<bigint>`: fused
  * shingle+MinHash — w-shingling, shingle hashing and the 64-permutation
  * min-fold in one static call per row. Exists because the composable form
  * (`transform`/`slice`/`concat_ws` shingling into `minhash_sig`) leaves
  * whole-stage codegen for interpreted lambda eval on every shingle, which
  * measured ~10× the cost of the entire fused computation. */
case class MinHashTokensExpr(child: Expression, w: Int) extends TokenKernelExpr {
  override def prettyName: String = "graft_minhash_tokens"
  protected def kernel = "MinHash.computeFromTokens"
  protected def call(t: ArrayData): Any = MinHash.computeFromTokens(t, w)
  override protected def params = Seq("w" -> w)
  override protected def rules = Seq((w >= 1) -> "w >= 1")
  override protected def withNewChildInternal(c: Expression): MinHashTokensExpr = copy(child = c)
}
