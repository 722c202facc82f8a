package graft.sources

import java.util.concurrent.ConcurrentHashMap

/** Per-fixture GENERATIONS for in-query ingest artifacts — bucketed
  * tables, stored ANN indexes, format copies, trained tokenizer/classifier
  * models. Round-11 shipped every one of these rebuilt on EVERY
  * invocation: correct and leak-free, but the bench then times the ingest,
  * not the query plan (VERDICT r11 #4). The production stance (and the
  * in-repo `Layout.compactIvfIndex` generation precedent): an artifact is
  * built once per INGEST BATCH and reused by every query after it, until
  * the underlying fixture actually changes.
  *
  * Keying: [[fixtureKey]] fingerprints the source dir by (name, size,
  * mtime) of its parquet tables — same bytes in, same artifact out, which
  * is sound here because every cached builder is bit-deterministic by
  * construction (the trained-artifact oracle contract). A changed or
  * swapped fixture (the 10×/100× A/B dirs) re-keys and rebuilds.
  *
  * Two tiers:
  *   - [[memo]]: JVM-lifetime value cache for driver-side metadata and
  *     trained models (merge tables, piece vocabularies, IVF codebooks);
  *   - [[cachedBuild]]: on-disk generation marker next to a written
  *     artifact path, so a skip is decided by the marker's recorded key
  *     (still per-session in practice — artifact paths carry the
  *     applicationId and die with the JVM's shutdown hook).
  */
object ArtifactCache {

  /** Fingerprint of a fixture dir: sorted (parquet name, size, mtime) —
    * recursing INTO `*.parquet` directories (Spark tables are directories:
    * their `File.length` is filesystem metadata and their mtime only moves
    * on direct-child create/delete, so a part file rewritten in place
    * would leave the directory entry unchanged and serve stale artifacts;
    * the part files' own (name, size, mtime) are the actual content
    * signal). */
  def fixtureKey(dir: String): String = {
    def sig(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
          .map(sig).mkString(s"${f.getName}:[", ",", "]")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(sig)
      .mkString(s"$dir|", ",", "")
  }

  /** Drop every memoized value so the next caller RETRAINS. The chaos gate
    * needs this between its clean and injected sessions: memo keys carry
    * only the fixture fingerprint, so without a clear the chaos session
    * would reuse artifacts trained fault-free in the clean session and the
    * trainers would never run under injection — byte-equality for the
    * trained families would be vacuous. */
  def clear(): Unit = values.clear()

  private val cleanupRegistered = ConcurrentHashMap.newKeySet[String]()

  /** One deterministic scratch path per (session, tag), deleted on JVM
    * exit together with the `<path>.genkey` marker [[cachedBuild]] writes
    * next to it — artifact generations live outside Spark's managed
    * warehouse, so nothing else would delete them. The one scratch-path
    * helper: every query that writes its own ingest generation takes its
    * path from here. */
  def sessionPath(spark: org.apache.spark.sql.SparkSession, tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${spark.sparkContext.applicationId}"
    if (cleanupRegistered.add(p))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(p))
        new java.io.File(p + ".genkey").delete(): Unit
      }))
    p
  }

  private val values = new ConcurrentHashMap[String, AnyRef]()

  /** Build-once value cache: `f` runs at most once per key per JVM (the
    * trained artifact is identical on re-run anyway — this trades the
    * retrain COST, never the value). */
  def memo[T <: AnyRef](key: String)(f: => T): T =
    values.computeIfAbsent(key, _ => f).asInstanceOf[T]

  /** Run `build` once per (path, key): skipped when the path's marker file
    * already records this key AND `alive` confirms the artifact is still
    * usable (e.g. its catalog table survived). */
  def cachedBuild(path: String, key: String, alive: => Boolean = true)(build: => Unit): Unit = {
    val marker = java.nio.file.Paths.get(path + ".genkey")
    val current =
      try { if (java.nio.file.Files.exists(marker)) java.nio.file.Files.readString(marker) else "" }
      catch { case scala.util.control.NonFatal(_) => "" }
    if (current != key || !alive) {
      build
      java.nio.file.Files.writeString(marker, key): Unit
    }
  }
}
