package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native column forms of the SimHash and winnowing-fingerprint signatures.
  *
  * Both previously ran as typed `Dataset.map` lambdas — a full
  * deserialize-to-Seq[String] + interpreted closure per row. Like the MinHash
  * twin ([[MinHash.computeFromTokens]]), each is one static JVM call per row
  * inside whole-stage codegen, which measured 10-50× faster on this family.
  *
  * Hashing is the CHAR-based FNV-1a 64 of `graft.dedup.Dedup.fnv64` (UTF-16
  * code units, not UTF-8 bytes) — the DuckDB oracle re-derives that exact
  * function in HUGEINT arithmetic, so the expressions must match it
  * bit-for-bit, non-ASCII included.
  */
object TextHash {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** `simhash_tokens(array<string>) -> bigint`: 64-bit SimHash of the token
    * multiset — per-token char-FNV, per-bit majority vote. */
  def simhashTokensCol(c: Column): Column =
    ColumnBridge.column(SimHashTokensExpr(ColumnBridge.expression(c)))

  /** `fingerprint_tokens(array<string>) -> array<bigint>`: rolling char-FNV
    * over w-shingles, keeping hashes ≡ 0 (mod keepMod), distinct + sorted. */
  def fingerprintTokensCol(c: Column, w: Int = 5, keepMod: Int = 4): Column =
    ColumnBridge.column(FingerprintTokensExpr(ColumnBridge.expression(c), w, keepMod))

  /** The tokens as strings, a null element as "": the one decode step of
    * every kernel here. */
  private def decode(arr: ArrayData): Array[String] = {
    val toks = new Array[String](arr.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    toks
  }

  /** Char-FNV64 of `toks(from until until)` joined by single 0x20
    * separators, i.e. `Dedup.fnv64(window.mkString(" "))` with the string
    * never materialized: the one window hash of every kernel here. */
  private def windowHash(toks: Array[String], from: Int, until: Int): Long = {
    var h = FnvOffset
    var j = from
    while (j < until) {
      if (j > from) { h ^= 0x20L; h *= FnvPrime }
      val t = toks(j)
      var k = 0
      while (k < t.length) { h ^= t.charAt(k).toLong; h *= FnvPrime; k += 1 }
      j += 1
    }
    h
  }

  /** Hot-path entry referenced from generated code. Null tokens are skipped. */
  def simhashArray(arr: ArrayData): Long = {
    val toks = decode(arr)
    val acc = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      if (!arr.isNullAt(i)) {
        val h = windowHash(toks, i, i + 1)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** `shingle_hashes(array<string>) -> array<bigint>`: the DISTINCT SORTED
    * char-FNV64 hashes of ALL w-shingles — the hashed twin of
    * `Dedup.shingles(tokens)` (n < w, including n = 0, collapses to one
    * whole-doc shingle, exactly like the string form). Exists so exact
    * near-dup verification can intersect shingle SETS without ever
    * materializing shingle strings: the string formulation
    * (`transform`+`concat_ws`+`slice` HOFs) is interpreted — it measured
    * 10-50× the cost of this one codegen'd static call per row — and
    * `|A∩B|` over distinct 64-bit shingle hashes equals `|A∩B|` over the
    * shingle strings absent an FNV64 collision inside one document pair
    * (deterministic per fixture; the oracle's green rows pin it, the same
    * acceptance the banding-miss note below makes). Output is sorted, so
    * pairs score with [[SetOps.intersectCountLong]]'s allocation-free merge. */
  def shingleHashesCol(c: Column, w: Int = 3): Column =
    ColumnBridge.column(ShingleHashesExpr(ColumnBridge.expression(c), w))

  /** Hot-path entry referenced from generated code for [[shingleHashesCol]]. */
  def shingleHashesFromTokens(arr: ArrayData, w: Int): ArrayData =
    new GenericArrayData(shingleHashesRaw(arr, w).distinct.sorted)

  /** `positional_shingle_hashes(array<string>) -> array<bigint>`: the
    * char-FNV64 of EVERY w-shingle in POSITION order — element i is the gram
    * starting at token i (n < w, including n = 0, collapses to one whole-doc
    * shingle, like the set form). The positional twin of
    * [[shingleHashesCol]] for span-EXTENT extraction, where a gram's
    * location matters as much as its identity; same fused single static
    * call per row, no gram strings materialized. */
  def positionalShingleHashesCol(c: Column, w: Int = 5): Column =
    ColumnBridge.column(PositionalShingleHashesExpr(ColumnBridge.expression(c), w))

  /** Hot-path entry referenced from generated code for
    * [[positionalShingleHashesCol]]. */
  def positionalShingleHashesFromTokens(arr: ArrayData, w: Int): ArrayData =
    new GenericArrayData(shingleHashesRaw(arr, w))

  private def shingleHashesRaw(arr: ArrayData, w: Int): Array[Long] = {
    val toks = decode(arr)
    val n = toks.length
    val nWindows = if (n < w) 1 else n - w + 1 // n = 0 → one empty shingle ""
    val out = new Array[Long](nWindows)
    var s = 0
    while (s < nWindows) { out(s) = windowHash(toks, s, math.min(s + w, n)); s += 1 }
    out
  }

  /** `gram_stats(array<string>) -> array<bigint>` of
    * `[g2_max, g2_n, g3_n, g3_d]`: max bigram multiplicity, bigram count,
    * trigram count, DISTINCT trigram count — exactly the per-document
    * statistics the Gopher repetition filters consume. They are per-row
    * facts, so computing them in one fused call makes the whole filter
    * query MAP-ONLY: the previous formulation exploded interpreted-HOF
    * n-gram strings into two groupBy pipelines — at 100 TB that shuffles
    * the entire n-gram stream twice to compute numbers each row already
    * owns. Grams are identified by their streaming char-FNV64 (same
    * function as [[shingleHashesFromTokens]], no gram strings
    * materialized); two grams of ONE document colliding in 64 bits is the
    * same negligible, fixture-deterministic acceptance the other hashed
    * verifiers make. */
  def gramStatsCol(c: Column): Column =
    ColumnBridge.column(GramStatsExpr(ColumnBridge.expression(c)))

  /** Hot-path entry referenced from generated code for [[gramStatsCol]]. */
  def gramStatsFromTokens(arr: ArrayData): ArrayData = {
    val toks = decode(arr)
    val n = toks.length
    var g2max = 0L; var g2n = 0L; var g3n = 0L; var g3d = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[Long, Long]()
      var s = 0
      while (s <= n - 2) {
        val c = counts.merge(windowHash(toks, s, s + 2), 1L, (a, b) => a + b)
        if (c > g2max) g2max = c
        s += 1
      }
      g2n = n - 1
    }
    if (n >= 3) {
      val seen = new java.util.HashSet[Long]()
      var s = 0
      while (s <= n - 3) {
        if (seen.add(windowHash(toks, s, s + 3))) g3d += 1
        s += 1
      }
      g3n = n - 2
    }
    new GenericArrayData(Array(g2max, g2n, g3n, g3d))
  }

  /** Hot-path entry referenced from generated code: the fused
    * tokens→fingerprints form. Window semantics match `toks.sliding(w)`:
    * no windows on an empty input, else the windows of the shingle hashes
    * (one whole-doc window when 0 < n < w, else n-w+1 windows). */
  def fingerprintsFromTokens(arr: ArrayData, w: Int, keepMod: Int): ArrayData = {
    val mask = (keepMod - 1).toLong
    val kept =
      if (arr.numElements() == 0) Array.emptyLongArray
      else shingleHashesRaw(arr, w).filter(h => (h & mask) == 0L)
    new GenericArrayData(kept.distinct.sorted)
  }
}

/** The one shape of the engine's `array<string>` kernels: the token array
  * in, one static call per row into `graft.functions.<kernel>` (inside
  * whole-stage codegen; the same method when interpreted). A kernel
  * declares only its SQL name (`prettyName`), result type, literal
  * parameters with their rules, and the method it calls. Kernels are case
  * classes of their child and literal parameters, so two equal calls are
  * equal expressions and subexpression elimination evaluates them once. */
abstract class TokenKernelExpr extends UnaryExpression {
  /** `Object.method` under `graft.functions`, called as (tokens, params). */
  protected def kernel: String
  protected def call(tokens: ArrayData): Any
  protected def params: Seq[(String, Int)] = Nil
  /** Each parameter rule with the text its failure prints. */
  protected def rules: Seq[(Boolean, String)] = Nil

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if rules.forall(_._1) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      ("array<string>" +: rules.map(_._2)).mkString(s"$prettyName requires ", ", ", "; ") +
        (s"got $other" +: params.map { case (k, v) => s"$k=$v" }).mkString(", "))
  }
  override protected def nullSafeEval(input: Any): Any = call(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      (c +: params.map(_._2.toString)).mkString(s"graft.functions.$kernel(", ", ", ")"))
}

/** `graft_simhash_tokens(array<string>) -> bigint` — see [[TextHash]]. */
case class SimHashTokensExpr(child: Expression) extends TokenKernelExpr {
  override def prettyName: String = "graft_simhash_tokens"
  override def dataType: DataType = LongType
  protected def kernel = "TextHash.simhashArray"
  protected def call(t: ArrayData): Any = TextHash.simhashArray(t)
  override protected def withNewChildInternal(c: Expression): SimHashTokensExpr = copy(child = c)
}

/** `graft_shingle_hashes(array<string>) -> array<bigint>` — see
  * [[TextHash.shingleHashesCol]]. */
case class ShingleHashesExpr(child: Expression, w: Int) extends TokenKernelExpr {
  override def prettyName: String = "graft_shingle_hashes"
  protected def kernel = "TextHash.shingleHashesFromTokens"
  protected def call(t: ArrayData): Any = TextHash.shingleHashesFromTokens(t, w)
  override protected def params = Seq("w" -> w)
  override protected def rules = Seq((w >= 1) -> "w >= 1")
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
}

/** `graft_positional_shingle_hashes(array<string>) -> array<bigint>` — see
  * [[TextHash.positionalShingleHashesCol]]. */
case class PositionalShingleHashesExpr(child: Expression, w: Int) extends TokenKernelExpr {
  override def prettyName: String = "graft_positional_shingle_hashes"
  protected def kernel = "TextHash.positionalShingleHashesFromTokens"
  protected def call(t: ArrayData): Any = TextHash.positionalShingleHashesFromTokens(t, w)
  override protected def params = Seq("w" -> w)
  override protected def rules = Seq((w >= 1) -> "w >= 1")
  override protected def withNewChildInternal(c: Expression): PositionalShingleHashesExpr =
    copy(child = c)
}

/** `graft_gram_stats(array<string>) -> array<bigint>` — see
  * [[TextHash.gramStatsCol]]. */
case class GramStatsExpr(child: Expression) extends TokenKernelExpr {
  override def prettyName: String = "graft_gram_stats"
  protected def kernel = "TextHash.gramStatsFromTokens"
  protected def call(t: ArrayData): Any = TextHash.gramStatsFromTokens(t)
  override protected def withNewChildInternal(c: Expression): GramStatsExpr = copy(child = c)
}

/** `graft_fingerprint_tokens(array<string>) -> array<bigint>` — see
  * [[TextHash]]. `keepMod` must be a power of two (mask-tested). */
case class FingerprintTokensExpr(child: Expression, w: Int, keepMod: Int)
    extends TokenKernelExpr {
  override def prettyName: String = "graft_fingerprint_tokens"
  protected def kernel = "TextHash.fingerprintsFromTokens"
  protected def call(t: ArrayData): Any = TextHash.fingerprintsFromTokens(t, w, keepMod)
  override protected def params = Seq("w" -> w, "keepMod" -> keepMod)
  override protected def rules = Seq((w >= 1) -> "w >= 1",
    (keepMod >= 1 && (keepMod & (keepMod - 1)) == 0) -> "keepMod a power of two")
  override protected def withNewChildInternal(c: Expression): FingerprintTokensExpr =
    copy(child = c)
}
