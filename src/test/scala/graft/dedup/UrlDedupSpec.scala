package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkTestSession

/** Case table for [[Dedup.canonicalUrl]] (VERDICT r12 #4): the oracle pins
  * cross-engine parity on the planted fixture, but the canonicalization
  * EDGE CASES — the decisions that separate a safe crawl-frontier key from
  * an over- or under-merging one — are pinned here, each case annotated
  * with the decision it guards. */
class UrlDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("url").select(Dedup.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
  }

  test("scheme/host fold, default-port strip, www strip, slash collapse, fragment drop") {
    assert(canon("HTTPS://WWW.Example.COM:443/a/b//") == Seq("https://example.com/a/b"))
    assert(canon("http://example.com:80/") == Seq("http://example.com/"))
    assert(canon("https://example.com/a#frag") == Seq("https://example.com/a"))
    // empty path canonicalizes to "/" so host-only forms converge
    assert(canon("https://example.com", "https://example.com/").distinct
      == Seq("https://example.com/"))
  }

  test("NON-default ports are KEPT — :8080 is a different origin, merging it loses pages") {
    assert(canon("https://example.com:8080/a") == Seq("https://example.com:8080/a"))
    // :80 is only default for http — on https it is a real (odd) port
    assert(canon("https://example.com:80/a") == Seq("https://example.com:80/a"))
    assert(canon("http://example.com:443/a") == Seq("http://example.com:443/a"))
  }

  test("path case is PRESERVED — /Docs and /docs are distinct resources") {
    assert(canon("https://example.com/Docs") == Seq("https://example.com/Docs"))
    assert(canon("https://example.com/Docs", "https://example.com/docs").distinct.size == 2)
  }

  test("percent-encoding is NOT normalized — %7E and ~ stay distinct (pinned: " +
      "byte-faithful beats partial decoding, which breaks %2F paths)") {
    assert(canon("https://example.com/%7Euser", "https://example.com/~user")
      .distinct.size == 2)
    // and the escape is carried through verbatim
    assert(canon("https://example.com/%7Euser") == Seq("https://example.com/%7Euser"))
  }

  test("query params: tracking stripped, meaningful kept + sorted, duplicates kept, " +
      "empty query dropped") {
    assert(canon("https://example.com/a?utm_source=f&id=7&utm_campaign=x")
      == Seq("https://example.com/a?id=7"))
    assert(canon("https://example.com/a?b=2&a=1&b=1")
      == Seq("https://example.com/a?a=1&b=1&b=2"))
    // all-tracking query collapses to no query at all
    assert(canon("https://example.com/a?utm_source=f&fbclid=z&gclid=q")
      == Seq("https://example.com/a"))
    assert(canon("https://example.com/a?") == Seq("https://example.com/a"))
    // param ORDER noise merges; param VALUE differences do not
    assert(canon("https://example.com/a?x=1&y=2", "https://example.com/a?y=2&x=1")
      .distinct.size == 1)
    assert(canon("https://example.com/a?id=7", "https://example.com/a?id=8")
      .distinct.size == 2)
  }

  test("scheme-less and userinfo URLs pass through structurally (crawl anomalies: " +
      "group only with byte-identical kin)") {
    // no scheme → empty scheme slot; host still folds, path preserved
    assert(canon("Example.com/Path") == Seq("://example.com/Path"))
    // userinfo kept verbatim — stripping it would merge distinct authorities
    assert(canon("https://user:pw@example.com/x")
      == Seq("https://user:pw@example.com/x"))
  }

  test("the five fixture aliasing channels collapse to 4-dup groups with the id-carrying " +
      "variant kept apart (end-to-end urlDedup)") {
    val rows = Dedup.urlDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon_url"),
        r.getAs[Long]("canonical_id"), r.getAs[Long]("group_size"),
        r.getAs[Boolean]("keep")))
    assert(rows.nonEmpty)
    val byDoc = rows.map(r => r._1 -> r).toMap
    // a full band of five: docs 0..3 alias one page, doc 4 carries ?id=7
    val band = (0L to 4L).flatMap(byDoc.get)
    if (band.size == 5) {
      assert(band.take(4).map(_._2).distinct.size == 1, "channels 0-3 must merge")
      assert(band(4)._2 != band(0)._2, "the id-carrying variant must NOT merge")
      assert(band.take(4).map(_._4).forall(_ == 4L))
      assert(band(0)._5 && !band(1)._5 && !band(2)._5 && !band(3)._5)
      // the meaningful param survived, the tracking one did not
      assert(band(4)._2.endsWith("?id=7"), band(4)._2)
    }
    // global shape: every group's keeper is its min doc_id, exactly once
    rows.groupBy(_._3).foreach { case (cid, g) =>
      assert(g.count(_._5) == 1)
      assert(g.filter(_._5).head._1 == g.map(_._1).min)
      assert(cid == g.map(_._1).min)
    }
  }

  test("tracking params at the start, adjacent, doubled '&' and bare prefixes all drop") {
    assert(canon("https://example.com/a?utm_a=1&utm_b=2&id=7&&fbclid=&gclid=x&utm_")
      == Seq("https://example.com/a?id=7"))
    // only a whole param's PREFIX is tracking: a value or a longer name is kept
    assert(canon("https://example.com/a?x=utm_1&fbclidx=2&agclid=3")
      == Seq("https://example.com/a?agclid=3&fbclidx=2&x=utm_1"))
    assert(canon(null: String) == Seq(null))
  }

  test("canonicalUrl plans no lambda: its own plan and dedup_url's final plan") {
    import spark.implicits._
    def lambdas(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      "lambdafunction".r.findAllMatchIn(plan).size
    }
    assert(lambdas(Seq("https://example.com/a?utm_a=1&b=2").toDF("url")
      .select(Dedup.canonicalUrl(col("url")))) == 0)
    assert(lambdas(graft.SparkEntry.queries("dedup_url")(spark, sf)) == 0)
  }
}
