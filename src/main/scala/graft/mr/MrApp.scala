package graft.mr

/** The reference engine's universal record: a string key-value pair
  * (/root/reference/src/mr/worker.go:21-24). */
final case class KV(key: String, value: String)

/** A named MapReduce application — the reference's plugin surface
  * (`Map`/`Reduce` symbols loaded from .so, /root/reference/src/main/mrworker.go:37-54)
  * re-expressed as a sealed registry of Scala functions.
  *
  *   - `map(filename, contents)` is a UDTF shape (one doc in, many KVs out)
  *     → executed as `flatMap` on `Dataset[(String, String)]`.
  *   - `reduce(key, values)` is a UDAF over pre-grouped values
  *     → executed via `groupByKey.mapGroups` (holistic reducers) — Spark's
  *     sort/hash aggregation replaces the reference's per-partition
  *     sort + run-grouping loop (/root/reference/src/mr/worker.go:161-182).
  */
trait MrApp extends Serializable {
  def name: String
  def map(filename: String, contents: String): Iterator[KV]
  def reduce(key: String, values: Iterator[String]): String
}

/** Tokenize on non-letters, dropping empty tokens — byte-equivalent to Go
  * `strings.FieldsFunc(contents, !unicode.IsLetter)`
  * (/root/reference/src/mrapps/wc.go:26-29). */
object Tokenize {
  /** The split pattern of every engine tokenizer. */
  val NonLetter = "[^\\p{L}]+"
  def apply(contents: String): Array[String] =
    contents.split(NonLetter).filter(_.nonEmpty)
}

/** Word count (/root/reference/src/mrapps/wc.go). The reference ships one
  * ("word","1") per occurrence with no combiner; in Spark the equivalent
  * declarative plan gets map-side partial aggregation for free — an
  * output-equivalent strict improvement (SURVEY §4). */
object WordCount extends MrApp {
  val name = "wc"
  def map(filename: String, contents: String): Iterator[KV] =
    Tokenize(contents).iterator.map(w => KV(w, "1"))
  def reduce(key: String, values: Iterator[String]): String =
    values.size.toString
}

/** Inverted index (/root/reference/src/mrapps/indexer.go): per-word distinct
  * document list, reduce emits "<n> <doc1,doc2,...>" with docs sorted. */
object Indexer extends MrApp {
  val name = "indexer"
  def map(filename: String, contents: String): Iterator[KV] =
    Tokenize(contents).distinct.iterator.map(w => KV(w, filename))
  def reduce(key: String, values: Iterator[String]): String = {
    val docs = values.toArray.distinct.sorted(MrJob.goStringOrdering)
    s"${docs.length} ${docs.mkString(",")}"
  }
}

/** The crash/nocrash app body (fault probe minus the fault,
  * /root/reference/src/mrapps/nocrash.go:32-50): constant keys a..d with
  * derived values; reduce = sorted space-joined concat of values. */
object NocrashApp extends MrApp {
  val name = "nocrash"
  def map(filename: String, contents: String): Iterator[KV] = Iterator(
    KV("a", filename),
    KV("b", filename.length.toString),
    KV("c", contents.length.toString),
    KV("d", "xyzzy"))
  def reduce(key: String, values: Iterator[String]): String =
    values.toArray.sorted(MrJob.goStringOrdering).mkString(" ")
}

object MrApps {
  val all: Seq[MrApp] = Seq(WordCount, Indexer, NocrashApp)
  def byName(n: String): MrApp = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown MrApp: $n"))
}
