package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every queries entry has an oracle (no silent rows-only downgrades)") {
    // the driver records a weaker rows-only check for oracle-less queries;
    // this surface is fully value-oracled and must stay that way. Three
    // queries score under a model the query itself TRAINS, so their oracle
    // SQL cannot live in the static map — graft.Verify generates it per
    // run via text.TrainedOracles (retrain the bit-deterministic artifact,
    // interpolate it as literals) and merges it into oracle_sql.json; the
    // training loops themselves stay pinned by BpeTrainSpec /
    // UnigramLmSpec / QualityClassifierSpec driver-local references.
    val dynamicOracle = text.TrainedOracles.names
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
      dynamicOracle
    assert(missing.isEmpty, s"query without oracle: $missing")
    // the dynamic set must not rot: every entry still a registered query,
    // none shadowed by a static-map entry
    assert(dynamicOracle.subsetOf(SparkEntry.queries.keySet))
    assert((dynamicOracle & SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("no oracle SQL carries an uninterpolated fragment") {
    // a shared OracleSql fragment spliced into a string without the `s`
    // interpolator reaches DuckDB as literal `${...}` text
    SparkEntry.oracleSql.foreach { case (name, s) => assert(!s.contains("${"), name) }
  }

  test("trained-model oracles generate non-empty DuckDB SQL at sf0.001") {
    val sqls = text.TrainedOracles.all(spark, sf)
    assert(sqls.keySet == text.TrainedOracles.names)
    sqls.foreach { case (name, s) =>
      assert(s.contains("FROM documents"), name)
      assert(!s.contains("${"), name)
      // the whole point is interpolated literals: each SQL must embed the
      // trained artifact (a CAST(… AS DOUBLE) logp/weight or a merge pair)
      assert(s.contains("AS DOUBLE") || s.contains("replace("), name)
    }
  }

  test("every query runs at sf0.001 and returns a schema with no raw timestamps") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      import org.apache.spark.sql.types.TimestampType
      assert(!df.schema.fields.exists(_.dataType == TimestampType),
        s"$name leaks a timestamp column (oracle-hostile)")
      // the driver's compare SORTS COLUMNS BY NAME — a duplicate name makes
      // the hash order ambiguous across engines
      val names = df.schema.fieldNames.toSeq
      assert(names.distinct == names, s"$name has duplicate column names: $names")
      // cheap execution check (limit avoids heavy full runs here)
      assert(df.limit(1).collect() != null, name)
    }
  }

  test("ev_funnel plans ONE corpus scan and ONE exchange (single-scan window shape)") {
    val plan = relational.RelationalQueries.evFunnel(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(scans == 1, s"ev_funnel scans the events table $scans times:\n${plan.take(1500)}")
    assert(exchanges == 1, s"ev_funnel plans $exchanges exchanges:\n${plan.take(1500)}")
  }

  test("map-only operators plan ZERO exchanges (sampling, frame sampling, text filters scan side)") {
    // these are pure scan→project→filter pipelines: any Exchange in the
    // plan means a regression reintroduced a shuffle where none is needed
    val mapOnly = Seq(
      "sample_mixture" -> sample.Sampling.mixture(spark, sf),
      "sample_split" -> sample.Sampling.split(spark, sf),
      "mm_frame_sample" -> multimodal.Multimodal.frameSample(spark, sf),
      "mm_resize" -> multimodal.Multimodal.resize(spark, sf),
      "sim_quantize_sq8" -> sim.Similarity.quantizeSq8(spark, sf),
      "text_token_stats" -> text.TextAnalysis.tokenStats(spark, sf),
      "text_quality" -> text.TextAnalysis.qualityScore(spark, sf),
      "text_langid" -> text.TextAnalysis.langId(spark, sf),
      "text_fingerprint" -> text.TextAnalysis.fingerprint(spark, sf),
      "text_bpe_tokens" -> text.TextAnalysis.bpeTokens(spark, sf),
      "text_gopher_filters" -> text.TextAnalysis.gopherFilters(spark, sf),
      "text_blocklist" -> text.TextAnalysis.blocklist(spark, sf),
      "text_pii_scrub" -> text.TextAnalysis.piiScrub(spark, sf),
      "mm_image_decode" -> multimodal.Multimodal.imageDecode(spark, sf))
    mapOnly.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      // the one allowed Exchange is Tables.spreadSmall's explicit gated
      // repartition (REPARTITION_BY_NUM — parallelizes per-row decode on
      // tiny single-split fixtures, no-op at scale); the operator itself
      // must never DEMAND a shuffle (ENSURE_REQUIREMENTS = a join/agg
      // sneaked into the map-only pipeline)
      assert(!plan.contains("ENSURE_REQUIREMENTS"),
        s"$name demands a shuffle:\n${plan.take(1500)}")
      assert("Exchange".r.findAllIn(plan).size <= 1,
        s"$name plans more than the spreadSmall repartition:\n${plan.take(1500)}")
    }
  }

  test("text_top_ngrams takes top-k via bounded heaps, never a global sort") {
    val plan = text.TextAnalysis.topNgrams(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n${plan.take(1500)}")
    assert(!plan.contains("\n   Sort "), s"no full Sort node expected:\n${plan.take(1500)}")
  }

  test("sampling scan prunes to the two referenced columns") {
    val plan = sample.Sampling.split(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("doc_id") && !plan.contains("text"),
      "split should never read the text column")
  }

  test("pushdown: q6 reaches the parquet scan with filters and pruned schema") {
    val plan = relational.RelationalQueries.q6ForecastRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && !plan.contains("PushedFilters: []"), plan.take(2000))
    assert(plan.contains("l_discount") && !plan.contains("l_shipdate"),
      "read schema should exclude unused columns")
  }
}
